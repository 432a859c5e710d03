"""Manifest-versioned stage tables: snapshot isolation, time travel,
rollback, vacuum, and crash atomicity."""

from __future__ import annotations

import os

from bbcnews_scraper_nlp_spark.sources.versioned import (
    commit_version,
    read_version,
    rollback,
    table_versions,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_commit_read_append_time_travel(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v0 = commit_version(_df(spark, 0, 10), root)
    assert v0 == 0
    assert read_version(spark, root).count() == 10

    v1 = commit_version(_df(spark, 10, 15), root, mode="append")
    assert v1 == 1
    assert read_version(spark, root).count() == 15
    # time travel: v0 unchanged by the append
    assert read_version(spark, root, version=0).count() == 10

    v2 = commit_version(_df(spark, 0, 3), root, mode="overwrite")
    assert read_version(spark, root).count() == 3
    assert read_version(spark, root, version=1).count() == 15
    assert table_versions(root) == [0, 1, 2] and v2 == 2


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    # a reader that resolved its manifest BEFORE a new commit keeps
    # seeing its snapshot afterwards (immutable data dirs)
    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 10), root)
    snapshot = read_version(spark, root)
    commit_version(_df(spark, 0, 2), root, mode="overwrite")
    assert snapshot.count() == 10  # not 2
    assert read_version(spark, root).count() == 2


def test_rollback_is_append_only_and_copyless(spark, tmp_path):
    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 10), root)
    commit_version(_df(spark, 0, 1), root, mode="overwrite")  # bad deploy
    v = rollback(root, to_version=0)
    assert v == 2
    assert read_version(spark, root).count() == 10
    # history is linear: the bad version stays readable
    assert read_version(spark, root, version=1).count() == 1
    # no data was copied: v0 and v2 share directories
    data = os.listdir(os.path.join(root, "data"))
    assert len(data) == 2  # one dir per real write, none for rollback


def test_crash_before_manifest_rename_is_invisible(spark, tmp_path):
    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 10), root)
    # simulate a writer that crashed after writing data but before
    # the manifest rename: orphan data dir + staged tmp manifest
    orphan = os.path.join(root, "data", "v000000000099-deadbeef")
    _df(spark, 0, 5).write.parquet(orphan)
    with open(os.path.join(root, "_versions", ".tmp-crashed.json"), "w") as fh:
        fh.write("{}")
    assert table_versions(root) == [0]
    assert read_version(spark, root).count() == 10


def test_vacuum_drops_only_dead_dirs(spark, tmp_path):
    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 10), root)            # v0
    commit_version(_df(spark, 10, 15), root, "append")  # v1 = v0 dirs + new
    commit_version(_df(spark, 0, 3), root, "overwrite")  # v2
    commit_version(_df(spark, 3, 6), root, "overwrite")  # v3
    removed = vacuum(root, keep_versions=2)
    # v2/v3 survive; v0's dir is shared with v1 (pruned), so it dies
    assert table_versions(root) == [2, 3]
    assert len(removed) == 2  # v0's dir and v1's append dir
    assert read_version(spark, root).count() == 3  # v3 = range(3, 6)
    assert read_version(spark, root, version=2).count() == 3


def test_merge_into_update_insert_delete(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.versioned import merge_into

    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 5), root)  # ids 0..4, v = 2*id

    # upsert: id 3 updated, id 99 inserted
    src = spark.createDataFrame([(3, 300), (99, 990)], "id long, v long")
    merge_into(spark, root, src, "id")
    got = {r["id"]: r["v"] for r in read_version(spark, root).collect()}
    assert got[3] == 300 and got[99] == 990 and got[0] == 0
    assert len(got) == 6
    # idempotent re-run: the same upsert again leaves the same state
    merge_into(spark, root, src, "id")
    again = {r["id"]: r["v"] for r in read_version(spark, root).collect()}
    assert again == got

    # update-only: matched key updated, unknown key NOT inserted
    src2 = spark.createDataFrame([(4, 400), (77, 770)], "id long, v long")
    merge_into(spark, root, src2, "id", insert_unmatched=False)
    got = {r["id"]: r["v"] for r in read_version(spark, root).collect()}
    assert got[4] == 400 and 77 not in got

    # delete matched
    src3 = spark.createDataFrame([(0,), (99,)], "id long")
    merge_into(
        spark, root, src3.selectExpr("id", "CAST(NULL AS LONG) AS v"),
        "id", when_matched="delete", insert_unmatched=False,
    )
    got = {r["id"]: r["v"] for r in read_version(spark, root).collect()}
    assert 0 not in got and 99 not in got and len(got) == 4

    # every merge is a version: pre-merge states remain readable
    assert table_versions(root) == [0, 1, 2, 3, 4]
    assert read_version(spark, root, version=0).count() == 5


def test_merge_into_source_dup_keys_collapse(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.versioned import merge_into

    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 3), root)
    src = spark.createDataFrame(
        [(1, 111), (1, 999), (5, 50)], "id long, v long"
    )
    merge_into(spark, root, src, "id")
    got = {r["id"]: r["v"] for r in read_version(spark, root).collect()}
    assert len(got) == 4 and got[5] == 50
    # deterministic pick: rank 1 of row_number ordered by the non-key
    # columns asc_nulls_first — the SMALLEST v survives, exactly
    assert got[1] == 111


def test_commit_version_two_writer_race(spark, tmp_path):
    """Concurrent appends: the CAS publish must serialize the two
    writers — both commits land, as distinct versions, and the final
    table holds both row sets (no silently overwritten manifest)."""
    import threading

    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 1), root)

    results, errs = {}, []
    barrier = threading.Barrier(2)

    def writer(name, lo, hi):
        try:
            barrier.wait()
            results[name] = commit_version(
                _df(spark, lo, hi), root, mode="append"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=writer, args=("a", 100, 110))
    t2 = threading.Thread(target=writer, args=("b", 200, 220))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert sorted(results.values()) == [1, 2]
    assert table_versions(root) == [0, 1, 2]
    ids = {r["id"] for r in read_version(spark, root).collect()}
    # the loser retried against the winner's head, so BOTH appends
    # are present in the final version
    assert set(range(100, 110)) <= ids and set(range(200, 220)) <= ids
    assert read_version(spark, root).count() == 1 + 10 + 20


def test_publish_manifest_cas_refuses_existing_version(spark, tmp_path):
    from bbcnews_scraper_nlp_spark.sources.versioned import _publish_manifest

    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 1), root)  # publishes version 0
    assert _publish_manifest(root, 0, {"version": 0}) is False
    assert _publish_manifest(root, 1, {"version": 1}) is True


def test_vacuum_folds_pruned_tags(spark, tmp_path):
    """A late at-least-once replay arriving AFTER vacuum must still
    find its unit-of-work tag: vacuum folds pruned manifests' tags
    into _tags.json before deleting them."""
    from bbcnews_scraper_nlp_spark.sources.versioned import committed_tags

    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 5), root, tag="batch:0")      # v0
    commit_version(_df(spark, 5, 8), root, "append", tag="batch:1")  # v1
    commit_version(_df(spark, 8, 9), root, "append", tag="batch:2")  # v2
    vacuum(root, keep_versions=1, orphan_grace_s=0)
    assert table_versions(root) == [2]
    # all three tags survive the manifest pruning
    assert committed_tags(root) == {"batch:0", "batch:1", "batch:2"}
    # a replay of batch 0 is a no-op, not a duplicate commit
    n_before = read_version(spark, root).count()
    v = commit_version(_df(spark, 0, 5), root, "append", tag="batch:0")
    assert v == 2 and read_version(spark, root).count() == n_before


def test_vacuum_orphan_grace_protects_inflight_commit(spark, tmp_path):
    root = str(tmp_path / "tbl")
    commit_version(_df(spark, 0, 5), root)
    # an in-flight writer: data written, manifest not yet published
    inflight = os.path.join(root, "data", "d-inflight00")
    _df(spark, 5, 9).write.parquet(inflight)
    removed = vacuum(root, keep_versions=2)  # default grace: 1 h
    assert removed == []  # fresh unreferenced dir survives
    assert os.path.isdir(inflight)
    # with writers known quiescent, grace 0 sweeps it
    removed = vacuum(root, keep_versions=2, orphan_grace_s=0)
    assert len(removed) == 1
    assert not os.path.isdir(inflight)
