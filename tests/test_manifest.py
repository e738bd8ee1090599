"""Transactional manifest table: the guarantees the docstring promises.

Reference analog: snapshot/restore + audit chain give crash-consistent
state single-process (reference vector_field.py:85-117, 448-461); these
tests pin the multi-writer, crash-safe generalization.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.sources.manifest import (
    CommitConflictError,
    ManifestTable,
)


def _df(spark, ids, tag="a"):
    return spark.range(*ids).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def test_append_then_read_latest(spark, root):
    t = ManifestTable(root)
    assert t.latest_version() is None
    v0 = t.commit_append(_df(spark, (0, 5)))
    v1 = t.commit_append(_df(spark, (5, 8)))
    assert (v0, v1) == (0, 1)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == list(range(8))
    assert t.manifest()["n_rows"] == 8


def test_time_travel_reads_old_snapshot(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.commit_overwrite(_df(spark, (100, 103)))
    assert sorted(r["k"] for r in t.read(spark, version=0).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r["k"] for r in t.read(spark).collect()) == [100, 101, 102]


def test_unpublished_data_dir_is_invisible(spark, root):
    """Crash safety: files written without a manifest never reach readers."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    # simulate a writer that died after its data write, before publish
    orphan_files, n = t._write_data_dir(_df(spark, (1000, 2000)))
    assert n == 1000
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    # default min_age_s protects the (possibly in-flight) fresh dir: a
    # writer between data-write and publish must not lose its files
    kept = t.vacuum(retain_last=1)
    assert kept["removed_data_dirs"] == []
    # and an explicit min_age_s=0 reclaims the orphan
    removed = t.vacuum(retain_last=1, min_age_s=0)
    assert len(removed["removed_data_dirs"]) == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_merge_upsert_replaces_matched_appends_unmatched(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5), tag="old"))
    updates = _df(spark, (3, 7), tag="new")
    t.merge_upsert(spark, updates, key="k")
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows == {0: "old", 1: "old", 2: "old", 3: "new", 4: "new", 5: "new", 6: "new"}


def test_merge_upsert_sizes_output_from_parent_bytes(spark, root):
    """An upsert rewrites the snapshot in ~128 MB files sized from the
    parent's bytes, not one file per scan split of the parent."""
    import math

    t = ManifestTable(root)
    t.commit_overwrite(_df(spark, (0, 4000), tag="old").repartition(8))
    parent = t.manifest()
    assert t.read(spark).rdd.getNumPartitions() > 1  # a multi-split scan
    parent_bytes = sum(os.path.getsize(os.path.join(root, f)) for f in parent["files"])
    t.merge_upsert(spark, _df(spark, (3998, 4002), tag="new"), key="k")
    m = t.manifest()
    assert len(m["files"]) <= math.ceil(parent_bytes / (128 * 1024 * 1024))
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert len(rows) == m["n_rows"] == 4002
    assert rows[3997] == "old" and rows[3998] == rows[4001] == "new"


def test_merge_upsert_on_empty_table(spark, root):
    t = ManifestTable(root)
    t.merge_upsert(spark, _df(spark, (0, 3)), key="k")
    assert t.manifest()["n_rows"] == 3


def test_delete_where(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 10)))
    t.delete_where(spark, F.col("k") >= 5)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_epoch_idempotence(spark, root):
    """Replayed foreachBatch epoch commits exactly once."""
    t = ManifestTable(root)
    assert t.commit_append(_df(spark, (0, 5)), epoch_id=7) == 0
    assert t.commit_append(_df(spark, (0, 5)), epoch_id=7) is None  # replay
    assert t.commit_append(_df(spark, (5, 6)), epoch_id=8) == 1
    assert t.manifest()["n_rows"] == 6
    # epoch markers survive interleaved commits
    assert t.committed_epochs() == {"7", "8"}


def test_publish_race_append_retries_to_next_version(spark, root):
    """Two handles racing: the append loser lands on the next version and
    the final snapshot contains BOTH writers' rows."""
    t1, t2 = ManifestTable(root), ManifestTable(root)
    t1.commit_append(_df(spark, (0, 3)))
    # t2 wins version 1 "concurrently" (publish protocol is what serializes;
    # ordering here just makes the assertion deterministic)
    t2.commit_append(_df(spark, (10, 13)))
    v = t1.commit_append(_df(spark, (20, 23)))
    assert v == 2
    got = sorted(r["k"] for r in t1.read(spark).collect())
    assert got == [0, 1, 2, 10, 11, 12, 20, 21, 22]


def test_try_publish_loses_when_version_taken(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3)))
    stale = dict(t.manifest(0))
    assert t._try_publish(stale, 0) is False  # EEXIST path
    assert t._try_publish(dict(stale, version=1), 1) is True


def test_merge_conflict_raises_then_retry_succeeds(spark, root):
    """An overwrite-style commit against a moved snapshot must NOT clobber
    the interleaved write: _commit raises, merge_upsert re-merges."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3), tag="old"))
    files, n = t._write_data_dir(_df(spark, (0, 1), tag="stale"))
    t.commit_append(_df(spark, (100, 101), tag="interleaved"))  # snapshot moves
    with pytest.raises(CommitConflictError):
        t._commit("merge", files, n, keep_parent_files=False, expected_parent=0)
    # the public API retries the read-modify-write and keeps the interleaved row
    t.merge_upsert(spark, _df(spark, (0, 1), tag="new"), key="k")
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows[100] == "interleaved" and rows[0] == "new"


def test_vacuum_keeps_retained_versions_readable(spark, root):
    t = ManifestTable(root)
    t.commit_overwrite(_df(spark, (0, 3)))
    t.commit_overwrite(_df(spark, (3, 6)))
    t.commit_overwrite(_df(spark, (6, 9)))
    out = t.vacuum(retain_last=2, min_age_s=0)
    assert out["removed_versions"] == [0]
    assert len(out["removed_data_dirs"]) == 1  # v0's files
    assert sorted(r["k"] for r in t.read(spark, version=1).collect()) == [3, 4, 5]
    assert sorted(r["k"] for r in t.read(spark, version=2).collect()) == [6, 7, 8]


def test_manifest_is_complete_snapshot_not_delta(spark, root):
    """Readers resolve ONE manifest — it must list every live file."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3)))
    t.commit_append(_df(spark, (3, 6)))
    m = t.manifest()
    with open(os.path.join(root, "_log", "v000000000001.json")) as fh:
        assert json.load(fh) == m
    dirs = {f.split(os.sep)[1] for f in m["files"]}
    assert len(dirs) == 2 and m["n_rows"] == 6


def test_streaming_manifest_sink_exactly_once(spark, tmp_path):
    """Real readStream → foreachBatch(manifest_sink) → ManifestTable:
    valid rows land exactly once; re-delivering the same epoch (restart
    replay, simulated by calling the batch body again with the same
    epoch id) does not duplicate."""
    import json as _json

    from aeuc_vector_db_spark.streaming import ingest as SI

    dim = 4
    src = tmp_path / "src"
    src.mkdir()
    lines = [
        _json.dumps(
            {
                "entry_id": f"e{i}",
                "glyph_id": i,
                "outer_context_id": 0,
                "embedding": [0.1 * i] * dim,
                "source_tag": "t",
                "version": "0.1.0",
                "ts": "2024-01-01T00:00:%02d.000Z" % i,
            }
        )
        for i in range(6)
    ]
    (src / "a.jsonl").write_text("\n".join(lines))
    t = ManifestTable(str(tmp_path / "table"))
    stream = SI.read_vector_entry_stream(spark, str(src))
    body = SI.manifest_sink(t, dim)
    q = stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert t.read(spark).count() == 6
    replay_epoch = max(int(e) for e in t.committed_epochs())
    batch = spark.read.schema(
        __import__("aeuc_vector_db_spark.schemas", fromlist=["x"]).VECTOR_ENTRY_SCHEMA
    ).json(str(src))
    body(batch, replay_epoch)  # replayed delivery of an already-committed epoch
    assert t.read(spark).count() == 6  # absorbed, not duplicated


def test_streaming_crash_between_write_and_publish_recovers_exactly_once(
    spark, tmp_path
):
    """End-to-end crash demo under a LIVE StreamingQuery: the sink dies
    BETWEEN writing the epoch's data directory and publishing its
    manifest. Readers must never see the partial state (the unpublished
    dir is invisible), and the restarted stream must replay the epoch
    into exactly-once state — accepted rows once, quarantine rows once,
    and the orphaned first-attempt dir reclaimable by vacuum."""
    import json as _json

    from aeuc_vector_db_spark import schemas
    from aeuc_vector_db_spark.streaming import ingest as SI

    dim = 4
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {
            "entry_id": f"e{i}",
            "glyph_id": i,
            "outer_context_id": 0,
            # two rows carry the wrong dimension → quarantine path
            "embedding": [0.1 * i] * (dim if i < 4 else dim + 1),
            "source_tag": "t",
            "version": "0.1.0",
            "ts": "2024-01-01T00:00:%02d.000Z" % i,
        }
        for i in range(6)
    ]
    (src / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))

    class CrashingTable(ManifestTable):
        """Injects one crash at the exact protocol point the docstring
        promises safety for: data files on disk, manifest not yet
        visible."""

        crash_armed = True

        def _try_publish(self, manifest, version):
            if CrashingTable.crash_armed:
                CrashingTable.crash_armed = False
                raise RuntimeError("injected crash: after data write, before publish")
            return super()._try_publish(manifest, version)

    root = str(tmp_path / "table")
    qdir = str(tmp_path / "quarantine")
    t = CrashingTable(root)
    body = SI.manifest_sink(t, dim, quarantine_path=qdir)

    def start():
        return (
            SI.read_vector_entry_stream(spark, str(src))
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):  # the injected crash fails the query
        q.awaitTermination(120)
        if q.exception() is not None:  # awaitTermination may swallow it
            raise RuntimeError(q.exception().desc)
    # partial state is invisible: no manifest was published, so a reader
    # sees NO table — but the orphaned data dir is on disk
    assert t.latest_version() is None
    orphans = os.listdir(os.path.join(root, "data"))
    assert len(orphans) == 1
    assert not os.path.exists(qdir)  # crash preceded the quarantine write

    # restart from the same checkpoint: Structured Streaming replays the
    # epoch with the SAME epoch id; the sink absorbs it exactly once
    q = start()
    q.awaitTermination(120)
    assert q.exception() is None
    got = sorted(r["entry_id"] for r in t.read(spark).collect())
    assert got == ["e0", "e1", "e2", "e3"]  # accepted once, no dups
    quarantined = spark.read.parquet(qdir)
    assert sorted(r["entry_id"] for r in quarantined.collect()) == ["e4", "e5"]

    # a further replay of the committed epoch is a no-op on BOTH paths
    batch = spark.read.schema(schemas.VECTOR_ENTRY_SCHEMA).json(str(src))
    epoch = max(int(e) for e in t.committed_epochs())
    body(batch, epoch)
    assert t.read(spark).count() == 4
    assert spark.read.parquet(qdir).count() == 2

    # the crashed attempt's orphan dir is reclaimable, live data survives
    out = t.vacuum(retain_last=1, min_age_s=0)
    assert len(out["removed_data_dirs"]) == 1
    assert t.read(spark).count() == 4


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=8)
    t.commit_overwrite(_df(spark, (0, 400), tag="old"))
    m0 = t.manifest()
    updates = _df(spark, (10, 13), tag="new")  # 3 keys → ≤3 touched buckets
    touched = {
        r["b"]
        for r in updates.select(t._bucket_col().alias("b")).distinct().collect()
    }
    t.merge_upsert(spark, updates)
    m1 = t.manifest()
    # untouched buckets: files carried forward BY REFERENCE (same paths)
    untouched0 = {f for f in m0["files"] if m0["buckets"][f] not in touched}
    assert untouched0 <= set(m1["files"])
    # touched buckets: every parent file replaced
    replaced0 = {f for f in m0["files"] if m0["buckets"][f] in touched}
    assert replaced0.isdisjoint(set(m1["files"]))
    # content is a correct MERGE and the manifest row count needed no scan
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert len(rows) == 400 and m1["n_rows"] == 400
    assert rows[10] == rows[11] == rows[12] == "new" and rows[9] == "old"


def test_bucketed_append_then_merge_row_counts_exact(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=4)
    t.commit_append(_df(spark, (0, 50)))
    t.commit_append(_df(spark, (50, 80)))
    assert t.manifest()["n_rows"] == 80 == t.read(spark).count()
    t.merge_upsert(spark, _df(spark, (70, 90), tag="new"))
    assert t.manifest()["n_rows"] == 90 == t.read(spark).count()


def test_bucketed_layout_marker_enforced(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    root = str(tmp_path / "bt")
    BucketedManifestTable(root, key="k", n_buckets=8)
    reopened = BucketedManifestTable(root)  # spec comes from the marker
    assert (reopened.key, reopened.n_buckets) == ("k", 8)
    with pytest.raises(ValueError, match="n_buckets"):
        BucketedManifestTable(root, key="k", n_buckets=16)
    with pytest.raises(ValueError, match="bucketed by"):
        BucketedManifestTable(root, key="other")
    with pytest.raises(ValueError, match="table marker"):
        BucketedManifestTable(str(tmp_path / "fresh"))  # create needs key


def test_bucketed_merge_rejects_null_keys(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=4)
    t.commit_overwrite(_df(spark, (0, 10)))
    bad = spark.createDataFrame([(None, "x")], "k long, tag string")
    with pytest.raises(ValueError, match="null merge keys"):
        t.merge_upsert(spark, bad)


def test_compact_shrinks_files_preserves_content_and_history(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=2)
    for i in range(4):  # many small appends → many small files
        t.commit_append(_df(spark, (i * 10, i * 10 + 10)))
    before = t.manifest()
    t.compact(spark)
    after = t.manifest()
    assert after["action"] == "compact"
    assert len(after["files"]) < len(before["files"])
    assert after["n_rows"] == before["n_rows"] == 40
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(40))
    # pre-compaction version still time-travel readable
    assert t.read(spark, version=before["version"]).count() == 40


def test_merge_rejects_in_batch_duplicate_keys(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    dup = _df(spark, (2, 4)).unionByName(_df(spark, (3, 5)))  # key 3 twice
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_upsert(spark, dup, key="k")


def test_plain_table_compact(spark, root):
    t = ManifestTable(root)
    for i in range(3):
        t.commit_append(_df(spark, (i * 5, i * 5 + 5)))
    n_files_before = len(t.manifest()["files"])
    t.compact(spark)
    assert t.manifest()["action"] == "compact"
    assert len(t.manifest()["files"]) < n_files_before
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(15))


def test_read_appended_returns_only_new_rows(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    v1 = t.commit_append(_df(spark, (5, 9)))
    t.commit_append(_df(spark, (9, 12)))
    # delta since v0: everything after the first append
    got = sorted(r["k"] for r in t.read_appended(spark, 0).collect())
    assert got == list(range(5, 12))
    # delta since the latest version: empty, schema preserved
    empty = t.read_appended(spark, t.latest_version())
    assert empty.count() == 0 and empty.columns == ["k", "tag"]
    # delta since v1
    assert sorted(r["k"] for r in t.read_appended(spark, v1).collect()) == [9, 10, 11]


def test_read_appended_refuses_after_rewrite(spark, root):
    """After a merge/compact, 'new files' ≠ 'new rows' — handing the
    caller a wrong delta would corrupt downstream aggregates."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.merge_upsert(spark, _df(spark, (2, 4), tag="new"), key="k")
    with pytest.raises(ValueError, match="not.*append"):
        t.read_appended(spark, 0)


def test_sorted_compaction_clusters_rows_for_stat_skipping(spark, tmp_path):
    """compact(sort_by) must leave each data file internally sorted (and
    files range-disjoint) — the property parquet min/max skipping needs."""
    import os as _os

    import pyarrow.parquet as pq

    t = ManifestTable(str(tmp_path / "t"))
    # appends in shuffled key order → unclustered files
    t.commit_append(_df(spark, (50, 100)))
    t.commit_append(_df(spark, (0, 50)))
    t.compact(spark, sort_by=["k"])
    m = t.manifest()
    ranges = []
    for f in m["files"]:
        tbl = pq.read_table(_os.path.join(t.root, f), columns=["k"])
        ks = tbl.column("k").to_pylist()
        assert ks == sorted(ks), f"file {f} not internally sorted"
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap — stats skipping defeated"
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(100))


def test_true_concurrent_writers_serialize(spark, root):
    """Two threads racing real appends through one table root: every
    commit must land (distinct versions) and the final snapshot must
    contain every row — the os.link publish is the only serializer."""
    import threading

    t = ManifestTable(root)
    errors = []

    def writer(base: int) -> None:
        try:
            handle = ManifestTable(root)  # separate handle, shared root
            for i in range(4):
                handle.commit_append(_df(spark, (base + i * 10, base + i * 10 + 10)))
        except Exception as exc:  # noqa: BLE001 — collected for assertion
            errors.append(exc)

    th1 = threading.Thread(target=writer, args=(0,))
    th2 = threading.Thread(target=writer, args=(1000,))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors
    assert t.versions() == list(range(8))  # 8 commits, no gaps, no clobbers
    got = sorted(r["k"] for r in t.read(spark).collect())
    expect = sorted(
        list(range(0, 40)) + list(range(1000, 1040))
    )
    assert got == expect and t.manifest()["n_rows"] == 80


def test_epoch_idempotence_survives_vacuum(spark, root):
    """Exactly-once must outlive log truncation: vacuum folds old epoch
    markers into the side file, so a late replay of a vacuumed epoch is
    still absorbed."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3)), epoch_id=1)
    t.commit_append(_df(spark, (3, 6)), epoch_id=2)
    t.commit_append(_df(spark, (6, 9)), epoch_id=3)
    t.vacuum(retain_last=1, min_age_s=0)  # drops manifests carrying epochs 1, 2
    assert t.committed_epochs() == {"1", "2", "3"}
    assert t.commit_append(_df(spark, (0, 3)), epoch_id=1) is None  # replay
    assert t.read(spark).count() == 9
    # fresh handle (new process) sees the same record
    assert ManifestTable(root).committed_epochs() == {"1", "2", "3"}


def test_append_schema_drift_rejected(spark, root):
    """A mixed-schema snapshot resolves columns from an arbitrary file —
    appends must match the table schema exactly; wholesale-replace
    actions may evolve it."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3)))
    drifted = spark.range(3, 6).select(
        F.col("id").alias("k"), F.lit(1.5).alias("score")  # tag → score
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(drifted)
    assert t.manifest()["n_rows"] == 3  # nothing committed
    # overwrite MAY evolve the schema; subsequent matching append works
    t.commit_overwrite(drifted)
    t.commit_append(
        spark.range(6, 8).select(F.col("id").alias("k"), F.lit(2.5).alias("score"))
    )
    assert t.read(spark).columns == ["k", "score"]
    assert t.manifest()["schema"] == ["k:bigint", "score:double"]


# -- per-file stats + data skipping -----------------------------------------


def test_data_skipping_point_predicate_reads_fewer_files(spark, root):
    """Disjoint-range appends + a point predicate: files whose min/max
    span can't contain the key are pruned, and the pruned read returns
    exactly what the unpruned filter would."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    t.commit_append(_df(spark, (200, 300)))
    keep, total = t.files_for([("k", "=", 150)])
    assert total >= 3 and 0 < len(keep) < total
    assert [r["k"] for r in t.read_where(spark, [("k", "=", 150)]).collect()] == [150]
    rng = sorted(
        r["k"]
        for r in t.read_where(spark, [("k", ">=", 90), ("k", "<", 110)]).collect()
    )
    assert rng == list(range(90, 110))
    # a predicate no file can satisfy prunes everything and returns empty
    assert t.files_for([("k", ">", 10_000)])[0] == []
    assert t.read_where(spark, [("k", ">", 10_000)]).count() == 0


def test_data_skipping_without_stats_is_conservative(spark, root):
    """A table written with no stats_cols (or an older manifest) must
    read every file — missing stats mean 'may match', never 'skip'."""
    t = ManifestTable(root)  # no stats recorded
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    keep, total = t.files_for([("k", "=", 150)])
    assert keep and len(keep) == total
    got = [r["k"] for r in t.read_where(spark, [("k", "=", 150)]).collect()]
    assert got == [150]


def test_data_skipping_string_column(spark, root):
    t = ManifestTable(root, stats_cols=["tag"])
    t.commit_append(_df(spark, (0, 50), tag="alpha"))
    t.commit_append(_df(spark, (50, 100), tag="zeta"))
    keep, total = t.files_for([("tag", "=", "zeta")])
    assert 0 < len(keep) < total
    assert t.read_where(spark, [("tag", "=", "alpha")]).count() == 50


def test_sorted_compaction_enables_skipping(spark, root):
    """Interleaved writes give every file a near-full span (no pruning);
    compact(sort_by) range-clusters the rows so the same predicate then
    prunes most files — stats only bite when the layout cooperates."""
    t = ManifestTable(root, stats_cols=["k"])
    scrambled = spark.range(0, 2000).select(
        ((F.col("id") * 997) % 2000).alias("k"), F.lit("x").alias("tag")
    ).repartition(8)
    t.commit_overwrite(scrambled)
    keep_before, total_before = t.files_for([("k", "=", 1234)])
    assert len(keep_before) == total_before  # full-span files: nothing pruned
    t.compact(spark, sort_by=["k"], n_files=16)
    keep_after, total_after = t.files_for([("k", "=", 1234)])
    assert total_after > 1 and len(keep_after) < total_after
    assert [r["k"] for r in t.read_where(spark, [("k", "=", 1234)]).collect()] == [1234]


def test_bucketed_merge_carries_stats_for_untouched_files(spark, tmp_path):
    """After a bounded merge, every file in the new snapshot (rewritten
    AND carried-forward) must still have its stats entry, or skipping
    silently degrades to full scans as the table ages through merges."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(
        str(tmp_path / "bt"), key="k", n_buckets=8, stats_cols=["k"]
    )
    t.commit_overwrite(_df(spark, (0, 400)))
    t.merge_upsert(spark, _df(spark, (3, 5), tag="upd"))
    m = t.manifest()
    assert set(m["stats"]) == set(m["files"])
    got = sorted(
        r["k"] for r in t.read_where(spark, [("k", "<", 10)]).collect()
    )
    assert got == list(range(10))


def test_zorder_compaction_skips_on_every_clustered_column(spark, root):
    """compact(cluster_by=[a,b]) Z-orders rows so per-file spans stay
    tight on BOTH columns: a plain sort_by=[a] serves only its leading
    column (the other column's spans go full-width — no pruning), while
    the Z-layout prunes files under predicates on a, on b, and on their
    conjunction, with results identical to the unpruned filter."""
    t = ManifestTable(root, stats_cols=["a", "b"])
    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("a"),
        (F.hash("id") % 200).alias("b"),
        F.col("id").alias("payload"),
    )
    t.commit_append(df)
    t.compact(spark, cluster_by=["a", "b"], n_files=16)
    m = t.manifest()
    assert set(m["stats"]) == set(m["files"]) and len(m["files"]) == 16
    for col, val in (("a", 17), ("b", 42)):
        keep, total = t.files_for([(col, "=", val)])
        assert 0 < len(keep) < total, (col, len(keep), total)
        got = t.read_where(spark, [(col, "=", val)]).count()
        assert got == df.filter(F.col(col) == val).count() > 0
    keep_both, total = t.files_for([("a", "=", 17), ("b", ">=", 100)])
    assert len(keep_both) <= min(
        len(t.files_for([("a", "=", 17)])[0]),
        len(t.files_for([("b", ">=", 100)])[0]),
    )
    # contrast: single-column sort cannot skip on the non-leading column
    t.compact(spark, sort_by=["a"], n_files=16)
    keep_b, total_b = t.files_for([("b", "=", 42)])
    assert len(keep_b) == total_b


def test_zorder_rejects_bad_columns(spark, root):
    t = ManifestTable(root)
    df = spark.range(10).select(F.col("id").alias("a"), F.lit("s").alias("tag"))
    t.commit_append(df)
    with pytest.raises(ValueError, match="numeric"):
        t.compact(spark, cluster_by=["tag"])
    with pytest.raises(ValueError, match="not in schema"):
        t.compact(spark, cluster_by=["missing"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(spark, sort_by=["a"], cluster_by=["a"])


def test_deletion_vector_soft_delete_no_rewrite(spark, root):
    """delete_where_dv records (file, row) positions in a sidecar and
    leaves every data file untouched: the manifest's file list is
    byte-identical, reads exclude exactly the matched rows, a second
    overlapping delete only counts still-live rows, appends carry the
    vectors forward, and time travel still sees the undeleted past."""
    t = ManifestTable(root, stats_cols=["k"])
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.commit_append(df.filter("k < 500"))
    t.commit_append(df.filter("k >= 500"))
    before = t.manifest()
    v = t.delete_where_dv(spark, [("k", ">=", 100), ("k", "<", 120)])
    after = t.manifest()
    assert v == 2 and after["files"] == before["files"]  # zero rewrite
    assert after["n_rows"] == 980
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        k for k in range(1000) if not (100 <= k < 120)
    ]
    # overlapping second delete: only the 10 still-live rows count
    t.delete_where_dv(spark, [("k", ">=", 110), ("k", "<", 130)])
    assert t.manifest()["n_rows"] == 970
    assert len(t.manifest()["deletes"]) == 2
    # no live match → no commit at all
    assert t.delete_where_dv(spark, [("k", ">", 5000)]) is None
    # appends carry vectors; pruned reads apply them too
    t.commit_append(
        spark.range(1000, 1010).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    assert sorted(r["k"] for r in t.read_where(spark, [("k", "<", 200)]).collect()) == [
        k for k in range(200) if not (100 <= k < 130)
    ]
    # time travel: pre-delete snapshot is intact
    assert t.read(spark, 1).count() == 1000


def test_deletion_vectors_materialize_on_rewrite_and_survive_vacuum(spark, root):
    t = ManifestTable(root, stats_cols=["k"])
    df = spark.range(400).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    t.commit_append(df)
    t.delete_where_dv(spark, [("k", "<", 50)])
    # vacuum retains the DV sidecar its retained manifest references
    t.vacuum(retain_last=1, min_age_s=0)
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(50, 400))
    # compaction materializes the deletes and clears the vector list
    t.compact(spark, n_files=2)
    m = t.manifest()
    assert not m.get("deletes")
    assert m["n_rows"] == 350 and t.read(spark).count() == 350
    # incremental read refuses to treat a delete_dv as an append
    t2 = ManifestTable(str(root) + "_2")
    t2.commit_append(df)
    t2.delete_where_dv(spark, [("k", "=", 7)])
    t2.commit_append(spark.range(400, 410).select(F.col("id").alias("k"), F.lit("x").alias("tag")))
    with pytest.raises(ValueError, match="not.*appends|not .*append"):
        t2.read_appended(spark, since_version=0)


def test_bucketed_deletion_vector_soft_delete_and_read(spark, tmp_path):
    """DV soft delete on a BUCKETED table: no data file rewritten, the
    bucketed `__bucket__=` paths resolve as DV join keys, and the read
    excludes exactly the deleted rows."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(
        str(tmp_path / "bt"), key="k", n_buckets=4, stats_cols=["k"]
    )
    t.commit_overwrite(_df(spark, (0, 50)))
    files_before = set(t.manifest()["files"])
    v = t.delete_where_dv(spark, [("k", ">=", 10), ("k", "<", 20)])
    assert v == 1
    m = t.manifest()
    assert set(m["files"]) == files_before  # zero rewritten data files
    assert m.get("deletes")
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == list(range(0, 10)) + list(range(20, 50))
    assert m["n_rows"] == 40


def test_bucketed_bounded_merge_does_not_resurrect_dv_deletes(spark, tmp_path):
    """THE r5 hazard: a bounded bucketed merge after a DV delete. The
    merge rewrites only touched buckets; soft-deleted rows must stay
    dead BOTH in rewritten buckets (materialized away) and in untouched
    buckets (DV rows carried forward), and n_rows must count live rows."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(
        str(tmp_path / "bt"), key="k", n_buckets=8, stats_cols=["k"]
    )
    t.commit_overwrite(_df(spark, (0, 200)))
    t.delete_where_dv(spark, [("k", ">=", 50), ("k", "<", 150)])
    # upsert a handful of keys OUTSIDE the deleted range: some buckets
    # rewrite, most carry forward by reference with their DV rows
    ups = _df(spark, (0, 5), tag="merged")
    t.merge_upsert(spark, ups)
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    expect = {k: "a" for k in list(range(5, 50)) + list(range(150, 200))}
    expect.update({k: "merged" for k in range(5)})
    assert rows == expect
    assert t.manifest()["n_rows"] == len(expect)
    # a second merge on top of the carried DVs must stay consistent
    t.merge_upsert(spark, _df(spark, (150, 155), tag="m2"))
    rows2 = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    expect.update({k: "m2" for k in range(150, 155)})
    assert rows2 == expect
    assert t.manifest()["n_rows"] == len(expect)


def test_bucketed_merge_upsert_dv_no_rewrite(spark, tmp_path):
    """The DV-based atomic merge inherited by the bucketed table: zero
    rewritten files, one manifest, correct final state."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(
        str(tmp_path / "bt"), key="k", n_buckets=4, stats_cols=["k"]
    )
    t.commit_overwrite(_df(spark, (0, 60)))
    files_before = set(t.manifest()["files"])
    t.merge_upsert_dv(spark, _df(spark, (10, 15), tag="merged"), key="k")
    m = t.manifest()
    assert files_before <= set(m["files"])  # old files all still listed
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows == {
        k: ("merged" if 10 <= k < 15 else "a") for k in range(60)
    }
    assert m["n_rows"] == 60


def test_data_skipping_in_predicate(spark, root):
    """`IN` served by stats+bloom: the id-batch point-lookup pattern
    (reference vector_field.py:316-318 membership-list pruning). Only
    files that may hold ANY listed value are read; an all-absent list
    reads zero files; IN () is vacuously false."""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    t.commit_append(_df(spark, (200, 300)))
    keep, total = t.files_for([("k", "in", [5, 7, 105])])
    assert total >= 3 and 0 < len(keep) < total
    got = sorted(
        r["k"] for r in t.read_where(spark, [("k", "in", [5, 7, 105])]).collect()
    )
    assert got == [5, 7, 105]
    assert t.files_for([("k", "in", [5000, 6000])])[0] == []
    assert t.files_for([("k", "in", [])])[0] == []
    assert t.read_where(spark, [("k", "in", [])]).count() == 0


def test_data_skipping_in_predicate_bloom_within_span(spark, root):
    """A value inside every file's min/max span but physically absent:
    range stats keep all files, the bloom still prunes. (Each append
    holds only even or only odd keys over the same range.)"""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    even = spark.range(50).select(
        (F.col("id") * 2).alias("k"), F.lit("e").alias("tag")
    )
    odd = spark.range(50).select(
        (F.col("id") * 2 + 1).alias("k"), F.lit("o").alias("tag")
    )
    t.commit_append(even)
    t.commit_append(odd)
    keep, total = t.files_for([("k", "in", [4, 10])])  # even-only probe
    assert 0 < len(keep) < total
    got = sorted(r["k"] for r in t.read_where(spark, [("k", "in", [4, 10])]).collect())
    assert got == [4, 10]


def test_data_skipping_null_predicates(spark, root):
    """IS NULL / IS NOT NULL served by per-file null-count stats: a file
    with zero nulls is pruned under IS NULL; an all-null file is pruned
    under IS NOT NULL; the filtered results stay exact."""
    t = ManifestTable(root, stats_cols=["v"])
    no_nulls = spark.range(0, 50).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    all_nulls = spark.range(50, 80).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v")
    )
    mixed = spark.range(80, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),
    )
    t.commit_append(no_nulls)
    t.commit_append(all_nulls)
    t.commit_append(mixed)
    keep_null, total = t.files_for([("v", "is_null", None)])
    assert total >= 3 and 0 < len(keep_null) < total  # no_nulls file pruned
    keep_nn, _ = t.files_for([("v", "is_not_null", None)])
    assert 0 < len(keep_nn) < total  # all_nulls file pruned
    got_null = sorted(
        r["k"] for r in t.read_where(spark, [("v", "is_null", None)]).collect()
    )
    assert got_null == list(range(50, 80)) + [k for k in range(80, 100) if k % 2]
    got_nn = t.read_where(spark, [("v", "is_not_null", None)]).count()
    assert got_nn == 50 + 10


def test_null_skipping_conservative_without_null_stats(spark, root):
    """Tables written before null-count stats existed (or without
    stats_cols) must keep every file under the null ops."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 50)))
    keep, total = t.files_for([("tag", "is_null", None)])
    assert len(keep) == total
    assert t.read_where(spark, [("tag", "is_not_null", None)]).count() == 50


def test_bloom_probe_type_guard_keeps_file_on_float_probe(spark, root):
    """ADVICE r5: a float/bool/Decimal `=` probe over an int bloom
    column canonicalizes differently than the stored form (str(5.0) ≠
    str(5)) — the bloom must NOT be consulted for those probe types, or
    it silently prunes live rows. The span check still applies, and the
    residual filter decides row membership."""
    t = ManifestTable(root, bloom_cols=["k"])
    t.commit_append(_df(spark, (0, 50)))
    # float probe of a present int key: bloom skipped → file kept →
    # the filter still finds the row (Spark compares 5.0 == 5L as true)
    keep, total = t.files_for([("k", "=", 5.0)])
    assert len(keep) == total
    assert [r["k"] for r in t.read_where(spark, [("k", "=", 5.0)]).collect()] == [5]
    # bool probe: type-guarded even though bool is an int subclass
    keep_b, _ = t.files_for([("k", "=", True)])
    assert len(keep_b) == total
    # int probe of an absent key still prunes through the bloom
    assert t.files_for([("k", "=", 5000)])[0] == []


def test_bloom_index_prunes_unclustered_point_lookups(spark, root):
    """High-cardinality random keys span every file, so min/max stats
    prune nothing — per-file bloom filters prune to ~1 file for a
    present key and (usually) 0 for an absent one, with identical
    results to the unpruned filter. False positives cost an extra file
    read, never a wrong row."""
    t = ManifestTable(root, stats_cols=["key"], bloom_cols=["key"])
    df = spark.range(20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.col("id").alias("v"),
    ).repartition(16)
    t.commit_overwrite(df)
    probe = df.filter("v = 777").collect()[0]["key"]
    keep, total = t.files_for([("key", "=", probe)])
    assert total == 16 and len(keep) <= 3  # ~1 + fpp slack
    rows = t.read_where(spark, [("key", "=", probe)]).collect()
    assert len(rows) == 1 and rows[0]["v"] == 777
    # absent key still returns the correct (empty) result however many
    # files the blooms let through
    assert t.read_where(spark, [("key", "=", "nope")]).count() == 0
    # range predicates ignore blooms (they only answer equality)
    keep_rng, _ = t.files_for([("key", ">=", "0")])
    assert len(keep_rng) == total


def test_bloom_sidecar_travels_and_degrades_conservatively(spark, root):
    t = ManifestTable(root, bloom_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    keep, total = t.files_for([("k", "=", 150)])
    assert 0 < len(keep) < total
    # a reader handle WITHOUT bloom_cols still prunes via the sidecars
    r = ManifestTable(root)
    keep2, _ = r.files_for([("k", "=", 150)])
    assert keep2 == keep
    # deleting the sidecar degrades to reading everything — never wrong
    import glob as _glob

    for p in _glob.glob(os.path.join(root, "data", "*", "_blooms.json")):
        os.unlink(p)
    keep3, total3 = r.files_for([("k", "=", 150)])
    assert len(keep3) == total3
    assert [x["k"] for x in r.read_where(spark, [("k", "=", 150)]).collect()] == [150]


def test_merge_upsert_dv_atomic_bounded_merge(spark, root):
    """DV merge: matched keys are positionally deleted and the batch
    appended in ONE commit — old files stay in the snapshot untouched,
    the version count moves by exactly one, repeated merges chase the
    key to its newest copy, and schema drift is rejected (old files
    remain live, so a DV merge cannot evolve the schema)."""
    t = ManifestTable(root, bloom_cols=["k"])
    df = spark.range(1000).select(F.col("id").alias("k"), F.lit("old").alias("tag"))
    t.commit_overwrite(df.repartition(8))
    v0_files = t.manifest()["files"]
    ups = spark.createDataFrame(
        [(5, "new"), (777, "new"), (2000, "new")], "k long, tag string"
    )
    v = t.merge_upsert_dv(spark, ups, key="k")
    m = t.manifest()
    assert v == 1 and set(v0_files) <= set(m["files"])
    assert m["n_rows"] == 1001  # 1000 − 2 matched + 3 upserts
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert len(rows) == 1001
    assert rows[5] == rows[777] == rows[2000] == "new" and rows[6] == "old"
    # remerge the same key: the live copy (in the appended file) dies,
    # not the already-dead original — counts stay exact
    t.merge_upsert_dv(
        spark, spark.createDataFrame([(5, "newer")], "k long, tag string"), key="k"
    )
    rows2 = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows2[5] == "newer" and len(rows2) == 1001
    assert t.manifest()["n_rows"] == 1001
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge_upsert_dv(
            spark, spark.createDataFrame([(1, 2.0)], "k long, x double"), key="k"
        )
    # rewrite materializes vectors; content unchanged
    t.compact(spark, n_files=2)
    assert not t.manifest().get("deletes")
    assert {r["k"]: r["tag"] for r in t.read(spark).collect()} == rows2


def test_clone_to_deep_copies_the_live_surface(spark, root, tmp_path):
    """Deep clone: reads equal the source snapshot, DVs and renames and
    CHECK constraints carry over, stats pruning works on the clone, and
    destroying the SOURCE cannot touch the clone (fully independent
    files)."""
    import shutil as _sh

    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    t.commit_append(
        spark.range(100).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("val"))
    )
    t.commit_append(
        spark.range(100, 200).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("val"))
    )
    t.delete_where_dv(spark, [("k", "<", 10)])
    t.rename_column("val", "value")
    t.add_check_constraint(spark, "v_pos", "value >= 0")
    want = sorted(tuple(r) for r in t.read(spark).collect())
    dest = str(tmp_path / "clone")
    assert t.clone_to(dest) == 0
    c = ManifestTable(dest, stats_cols=["k"], bloom_cols=["k"])
    got = sorted(tuple(r) for r in c.read(spark).collect())
    assert got == want and c.manifest()["n_rows"] == 190
    # per-file stats traveled: the range read prunes on the clone
    keep, total = c.files_for([("k", ">=", 150)])
    assert len(keep) < total
    # constraint enforcement is live on the clone
    with pytest.raises(ValueError, match="v_pos"):
        c.commit_append(
            spark.createDataFrame([(999, -5)], "k long, value long")
        )
    # renamed logical name resolves on the clone's reads
    assert c.read_where(spark, [("k", "=", 50)]).select("value").first()[0] == 100
    # independence: vaporize the source — the clone is untouched
    _sh.rmtree(root)
    assert sorted(tuple(r) for r in c.read(spark).collect()) == want
    # a non-empty destination is refused
    with pytest.raises(ValueError, match="already has commits"):
        c.clone_to(dest)


def test_merge_full_clause_surface(spark, root):
    """The generalized MERGE: matched-delete, conditional matched-update,
    conditional insert, and not-matched-by-source delete evaluate in one
    atomic DV commit; source-only condition columns are never written;
    no existing data file is rewritten."""
    t = ManifestTable(root, bloom_cols=["k"])
    tgt = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("val"),
        F.lit("old").alias("tag"),
    )
    t.commit_overwrite(tgt.repartition(4))
    v0_files = t.manifest()["files"]
    # source keys 5..14; extra `op` column drives conditions only
    src = spark.range(5, 15).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 100)
        .otherwise(F.col("id"))  # odd keys: src_val < target val → no update
        .alias("val"),
        F.lit("new").alias("tag"),
        F.when(F.col("id") == 6, F.lit("del")).otherwise(F.lit("keep")).alias("op"),
    )
    v = t.merge(
        spark, src, key="k",
        matched_delete="src_op = 'del'",
        matched_update="src_val > val",
        not_matched_insert="src_op <> 'del' AND src_k % 2 = 0",
        not_matched_by_source_delete="k < 2",
    )
    m = t.manifest()
    assert v == 1 and set(v0_files) <= set(m["files"])  # bounded: no rewrite
    rows = {r["k"]: (r["val"], r["tag"]) for r in t.read(spark).collect()}
    # k 0,1: not-matched-by-source delete; k 2..4: untouched targets
    # k 5,7,9: matched, src_val (5,7,9) not > val → kept as-is
    # k 6: matched delete; k 8: matched update (800 > 80)
    # k 10..14 source-only: inserted iff even
    assert rows == {
        2: (20, "old"), 3: (30, "old"), 4: (40, "old"),
        5: (50, "old"), 7: (70, "old"), 9: (90, "old"),
        8: (800, "new"), 10: (1000, "new"), 12: (1200, "new"), 14: (1400, "new"),
    }
    assert m["n_rows"] == len(rows)
    assert "op" not in t.read(spark).columns  # condition-only column


def test_merge_matched_delete_wins_over_update(spark, root):
    """Fixed clause precedence: a matched row passing BOTH conditions is
    deleted, not updated (delete clause evaluates first)."""
    t = ManifestTable(root)
    t.commit_overwrite(
        spark.createDataFrame([(1, "old")], "k long, tag string")
    )
    t.merge(
        spark,
        spark.createDataFrame([(1, "new")], "k long, tag string"),
        key="k",
        matched_delete=True,
        matched_update=True,
        not_matched_insert=False,
    )
    assert t.read(spark).count() == 0


def test_merge_nmbs_true_makes_replica_of_source(spark, root):
    """merge with unconditional update/insert/not-matched-by-source-delete
    is snapshot synchronization: the table becomes the source exactly."""
    t = ManifestTable(root)
    t.commit_overwrite(
        spark.range(20).select(F.col("id").alias("k"), F.lit("a").alias("tag"))
    )
    src = spark.range(10, 30).select(
        F.col("id").alias("k"), F.lit("s").alias("tag")
    )
    t.merge(
        spark, src, key="k",
        matched_update=True,
        not_matched_insert=True,
        not_matched_by_source_delete=True,
    )
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows == {k: "s" for k in range(10, 30)}
    assert t.manifest()["n_rows"] == 20


def test_merge_validation_guards(spark, root):
    """No clauses, missing table columns, non-unique source keys, and
    merging into an empty table all fail loudly."""
    t = ManifestTable(root)
    src = spark.createDataFrame([(1, "x")], "k long, tag string")
    with pytest.raises(ValueError, match="empty table"):
        t.merge(spark, src, key="k")
    t.commit_append(spark.createDataFrame([(0, "a")], "k long, tag string"))
    with pytest.raises(ValueError, match="no clauses"):
        t.merge(spark, src, key="k", matched_update=False, not_matched_insert=False)
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge(spark, src.select("k"), key="k")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, tag string")
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(spark, dup, key="k")


def test_merge_enforces_check_constraints(spark, root):
    """The merge's update/insert batch passes through the same CHECK
    constraint door as every other ingest path."""
    t = ManifestTable(root)
    t.commit_append(spark.createDataFrame([(0, 5)], "k long, val long"))
    t.add_check_constraint(spark, "val_pos", "val > 0")
    bad = spark.createDataFrame([(0, -1)], "k long, val long")
    with pytest.raises(ValueError, match="val_pos"):
        t.merge(spark, bad, key="k", matched_update=True)
    ok = spark.createDataFrame([(0, 7)], "k long, val long")
    t.merge(spark, ok, key="k", matched_update=True)
    assert {r["val"] for r in t.read(spark).collect()} == {7}


def test_read_changes_cdc_feed(spark, root):
    """read_changes recovers per-row inserts AND deletes (with full
    payloads) from the log: appends are inserts, DV commits are deletes,
    a DV merge is its delete+insert pair; rewrites in the history are
    refused (their per-row changes are unrecoverable), and a post-
    rewrite anchor works again."""
    t = ManifestTable(root, bloom_cols=["k"])
    t.commit_append(
        spark.range(100).select(F.col("id").alias("k"), F.lit("a").alias("tag"))
    )
    t.commit_append(
        spark.range(100, 120).select(F.col("id").alias("k"), F.lit("b").alias("tag"))
    )
    t.delete_where_dv(spark, [("k", "<", 10)])
    t.merge_upsert_dv(
        spark,
        spark.createDataFrame([(50, "upd"), (999, "new")], "k long, tag string"),
        key="k",
    )
    by = {}
    for r in t.read_changes(spark, since_version=0).collect():
        by.setdefault((r["_commit_version"], r["_change_type"]), []).append(
            (r["k"], r["tag"])
        )
    assert sorted(k for k, _ in by[(1, "insert")]) == list(range(100, 120))
    # deleted rows carry their full payload (recovered from the files)
    assert sorted(by[(2, "delete")]) == [(k, "a") for k in range(10)]
    assert by[(3, "delete")] == [(50, "a")]
    assert sorted(by[(3, "insert")]) == [(50, "upd"), (999, "new")]
    t.compact(spark)
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(spark, 0)
    t.commit_append(
        spark.range(200, 205).select(F.col("id").alias("k"), F.lit("c").alias("tag"))
    )
    post = t.read_changes(spark, since_version=t.latest_version() - 1).collect()
    assert sorted(r["k"] for r in post) == [200, 201, 202, 203, 204]
    assert {r["_change_type"] for r in post} == {"insert"}


def test_schema_evolution_additive_append(spark, root):
    """Additive column evolution: an evolve=True append widens the
    schema; reads resolve old files with NULL for the appended column
    (explicit-schema scan, no mergeSchema); a plain append of the NEW
    schema then succeeds; non-additive changes stay rejected."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 10)))
    wide = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("b").alias("tag"),
        (F.col("id") * 2).alias("extra"),
    )
    # without the flag: rejected exactly like before
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(wide)
    t.commit_append(wide, evolve=True)
    rows = {r["k"]: (r["tag"], r["extra"]) for r in t.read(spark).collect()}
    assert rows[5] == ("a", None)       # pre-evolution file: NULL-filled
    assert rows[15] == ("b", 30)
    assert len(rows) == 20
    # the widened schema is now the table schema: plain appends of it work
    t.commit_append(
        spark.range(20, 25).select(
            F.col("id").alias("k"), F.lit("c").alias("tag"),
            (F.col("id") * 2).alias("extra"),
        )
    )
    assert t.read(spark).count() == 25
    # non-additive: dropped column, type change, rename all rejected
    for bad in (
        spark.range(30, 31).select(F.col("id").alias("k")),
        spark.range(30, 31).select(
            F.col("id").cast("int").alias("k"), F.lit("x").alias("tag"),
            F.lit(1).alias("extra"),
        ),
        spark.range(30, 31).select(
            F.col("id").alias("kk"), F.lit("x").alias("tag"),
            F.lit(1).cast("long").alias("extra"),
        ),
    ):
        with pytest.raises(ValueError, match="schema mismatch"):
            t.commit_append(bad, evolve=True)


def test_schema_evolution_composes_with_dv_and_merge(spark, root):
    """Evolution + the rest of the table surface: DV deletes on the
    appended column's table, pruned reads, a DV merge, and CDC all
    resolve pre-evolution files correctly (NULL-filled), and the
    evolved marker survives every commit kind."""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    t.commit_append(_df(spark, (0, 50)))
    wide = spark.range(50, 100).select(
        F.col("id").alias("k"), F.lit("b").alias("tag"),
        (F.col("id") % 7).alias("extra"),
    )
    t.commit_append(wide, evolve=True)
    # DV delete with a predicate on the APPENDED column: old files have
    # no `extra` stats -> kept conservatively; rows resolve as NULL
    # there, so only new-file rows can match
    v = t.delete_where_dv(spark, [("extra", "=", 3)])
    assert v is not None
    expect_dead = {k for k in range(50, 100) if k % 7 == 3}
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == set(range(100)) - expect_dead
    # pruned read on the evolved table still exact
    sub = {r["k"] for r in t.read_where(spark, [("k", ">=", 40), ("k", "<", 60)]).collect()}
    assert sub == {k for k in range(40, 60) if k not in expect_dead}
    # DV merge keeps the widened schema and the evolved marker
    ups = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit("m").alias("tag"),
        F.lit(99).cast("long").alias("extra"),
    )
    t.merge_upsert_dv(spark, ups, key="k")
    assert t.manifest().get("evolved") is True
    rows = {r["k"]: (r["tag"], r["extra"]) for r in t.read(spark).collect()}
    assert rows[0] == ("m", 99) and rows[10] == ("a", None)
    # CDC over the evolved history NULL-fills old files too
    ch = t.read_changes(spark, since_version=0)
    ins50 = [r for r in ch.collect() if r["k"] == 55 and r["_change_type"] == "insert"]
    assert ins50 and ins50[0]["extra"] == 55 % 7


def test_metadata_only_aggregates(spark, root):
    """count/min/max/null-count from the manifest alone: live-exact
    count through appends + DV deletes + DV merges; physical span and
    null counts from footer stats; conservative None without stats."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    assert t.count_rows() == 200 == t.read(spark).count()
    assert t.column_span("k") == (0, 199)
    assert t.column_null_counts("k") == (0, 200)
    t.delete_where_dv(spark, [("k", ">=", 50), ("k", "<", 80)])
    assert t.count_rows() == 170 == t.read(spark).count()
    # span is physical (soft-deleted positions still bound it)
    assert t.column_span("k") == (0, 199)
    t.merge_upsert_dv(spark, _df(spark, (0, 5), tag="m"), key="k")
    assert t.count_rows() == 170 == t.read(spark).count()
    # unknown / un-statted column: conservative None, never a guess
    assert t.column_span("tag") is None
    t2 = ManifestTable(str(root) + "_nostats")
    t2.commit_append(_df(spark, (0, 10)))
    assert t2.count_rows() == 10
    assert t2.column_span("k") is None
    assert t2.column_null_counts("k") is None


def test_compact_deletes_folds_sidecars(spark, root):
    """Many DV dirs fold into one; reads identical before/after; the
    CDC feed neither loses the original deletes nor re-emits them for
    the compaction commit; a later delete still appears."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    for lo in (10, 30, 50):
        t.delete_where_dv(spark, [("k", ">=", lo), ("k", "<", lo + 5)])
    before = sorted(r["k"] for r in t.read(spark).collect())
    assert len(t.manifest().get("deletes") or []) == 3
    v = t.compact_deletes(spark)
    assert v is not None
    assert len(t.manifest()["deletes"]) == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == before
    assert t.count_rows() == len(before)
    # idempotent-ish: nothing to fold → None, no commit
    assert t.compact_deletes(spark) is None
    # CDC: the three original deletes keep their versions; the
    # compaction itself contributes no changes; later deletes appear
    ch = t.read_changes(spark, since_version=0)
    dels = [
        (r["k"], r["_commit_version"])
        for r in ch.collect()
        if r["_change_type"] == "delete"
    ]
    assert len(dels) == 15 and {v for _, v in dels} == {1, 2, 3}
    t.delete_where_dv(spark, [("k", "=", 90)])
    ch2 = t.read_changes(spark, since_version=v)
    assert [(r["k"], r["_change_type"]) for r in ch2.collect()] == [(90, "delete")]
    assert t.read(spark).count() == len(before) - 1


def test_bucketed_blooms_prune_dv_merge_candidates(spark, tmp_path):
    """Bucketed tables now write per-bucket-dir bloom sidecars: a point
    probe on the bloom column prunes to ~1 file even though every
    bucket file's min/max span covers the key range."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(
        str(tmp_path / "bt"), key="k", n_buckets=8, bloom_cols=["k"]
    )
    t.commit_overwrite(_df(spark, (0, 400)))
    keep, total = t.files_for([("k", "=", 123)])
    # blooms are probabilistic by design (fpp=1%): the containing file
    # plus at most a false positive or two — never the full file list
    assert total >= 8 and 1 <= len(keep) <= 3
    assert len(t.files_for([("k", "=", 999_999)])[0]) <= 1  # fp allowance
    assert [r["k"] for r in t.read_where(spark, [("k", "=", 123)]).collect()] == [123]


def test_dnf_skipping_unions_group_prunes(spark, root):
    """OR-of-AND-groups skipping: the kept set is the union of each
    group's pruned set (middle append untouched by either group), rows
    exactly match the disjunction, and an empty group list reads
    nothing while an empty GROUP matches everything."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 100)))
    t.commit_append(_df(spark, (100, 200)))
    t.commit_append(_df(spark, (200, 300)))
    groups = [[("k", ">=", 10), ("k", "<", 20)], [("k", "=", 250)]]
    keep, total = t.files_for_any(groups)
    k1 = set(t.files_for(groups[0])[0])
    k2 = set(t.files_for(groups[1])[0])
    assert set(keep) == k1 | k2 and 0 < len(keep) < total
    got = sorted(r["k"] for r in t.read_where_any(spark, groups).collect())
    assert got == list(range(10, 20)) + [250]
    assert t.files_for_any([])[0] == []
    assert t.read_where_any(spark, [[("k", "=", 5)], []]).count() == 300


def test_bucketed_schema_evolution_with_bounded_merge(spark, tmp_path):
    """Additive evolution composes with the BUCKETED layout: an
    evolve=True append widens the schema, the bounded merge reads its
    rewrite buckets under the widened schema (old files NULL-fill), and
    untouched buckets carry forward with the sticky evolved marker."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=4)
    t.commit_overwrite(_df(spark, (0, 40)))
    wide = spark.range(40, 80).select(
        F.col("id").alias("k"), F.lit("b").alias("tag"),
        (F.col("id") * 3).alias("extra"),
    )
    t.commit_append(wide, evolve=True)
    rows = {r["k"]: (r["tag"], r["extra"]) for r in t.read(spark).collect()}
    assert rows[5] == ("a", None) and rows[45] == ("b", 135) and len(rows) == 80
    ups = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("m").alias("tag"),
        F.lit(-1).cast("long").alias("extra"),
    )
    t.merge_upsert(spark, ups)
    assert t.manifest().get("evolved") is True
    rows = {r["k"]: (r["tag"], r["extra"]) for r in t.read(spark).collect()}
    assert rows[0] == ("m", -1) and rows[10] == ("a", None) and rows[45] == ("b", 135)
    assert t.count_rows() == 80 == len(rows)


def test_merge_dv_on_appended_key_column(spark, root):
    """merge_upsert_dv whose MERGE KEY is an appended (evolved) column:
    the candidate scan must resolve through the manifest's explicit
    schema (_read_files), not bare schema inference — inference from a
    pre-evolution file would make F.col(key) unresolvable or depend on
    which file Spark samples (round-6 ADVICE #3)."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 20)))              # files WITHOUT `extra`
    wide = spark.range(20, 40).select(
        F.col("id").alias("k"), F.lit("b").alias("tag"),
        (F.col("id") + 100).alias("extra"),
    )
    t.commit_append(wide, evolve=True)                # files WITH `extra`
    ups = spark.createDataFrame(
        [(1000, "up", 125), (1001, "up", 131)], "k long, tag string, extra long"
    )
    v = t.merge_upsert_dv(spark, ups, key="extra")
    assert v == t.latest_version()  # returns the published version
    rows = {r["k"]: (r["tag"], r["extra"]) for r in t.read(spark).collect()}
    # matched rows replaced (old k=25/31 gone, new k=1000/1001 in)
    assert 25 not in rows and 31 not in rows
    assert rows[1000] == ("up", 125) and rows[1001] == ("up", 131)
    # pre-evolution rows (extra=NULL) never match a key and stay live
    assert rows[5] == ("a", None)
    assert len(rows) == 40


def test_type_widening_evolution(spark, root):
    """evolve=True accepts safe numeric widening (int→bigint,
    float→double) with or without appended columns: old files up-cast
    at scan through the widened explicit schema; plain appends of the
    widened schema then work; narrowing / renames / unsafe changes stay
    rejected."""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    narrow = spark.range(0, 20).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id").cast("float") / 4).alias("score"),
        F.lit("a").alias("tag"),
    )
    t.commit_append(narrow)
    # widening WITHOUT the flag: rejected like any mismatch
    wide = spark.range(20, 40).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id").cast("double") / 4).alias("score"),
        F.lit("b").alias("tag"),
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(wide)
    t.commit_append(wide, evolve=True)
    assert t.manifest().get("evolved") is True
    got = t.read(spark)
    # resolved types are the WIDE ones for every file
    types = dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)
    assert types == {"k": "bigint", "score": "double", "tag": "string"}
    rows = {r["k"]: (r["score"], r["tag"]) for r in got.collect()}
    assert rows[5] == (1.25, "a") and rows[30] == (7.5, "b") and len(rows) == 40
    # plain append of the widened schema now matches
    t.commit_append(
        spark.range(40, 45).select(
            F.col("id").alias("k"), (F.col("id").cast("double") / 4).alias("score"),
            F.lit("c").alias("tag"),
        )
    )
    assert t.count_rows() == 45
    # widening + appended column in ONE evolve commit
    wider = spark.range(45, 50).select(
        F.col("id").alias("k"), (F.col("id").cast("double") / 4).alias("score"),
        F.lit("d").alias("tag"), (F.col("id") % 3).cast("int").alias("bucket3"),
    )
    t.commit_append(wider, evolve=True)
    rows = {r["k"]: r["bucket3"] for r in t.read(spark).collect()}
    assert rows[5] is None and rows[47] == 47 % 3 and len(rows) == 50
    # NARROWING and type CHANGES stay rejected even with evolve=True
    for bad in (
        spark.range(50, 51).select(
            F.col("id").cast("int").alias("k"),          # bigint→int: narrow
            (F.col("id").cast("double") / 4).alias("score"),
            F.lit("x").alias("tag"), F.lit(1).cast("int").alias("bucket3"),
        ),
        spark.range(50, 51).select(
            F.col("id").alias("k"),
            (F.col("id").cast("double") / 4).alias("score"),
            F.lit(7).alias("tag"),                        # string→bigint
            F.lit(1).cast("int").alias("bucket3"),
        ),
    ):
        with pytest.raises(ValueError, match="schema mismatch"):
            t.commit_append(bad, evolve=True)


def test_type_widening_composes_with_dv_skipping_and_cdc(spark, root):
    """Widened tables keep the whole surface honest: stat/bloom-pruned
    reads (int stats vs bigint predicates), DV deletes positioned
    against mixed narrow/wide files, merge_upsert_dv on the widened
    key, and CDC over the widening boundary."""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    t.commit_append(
        spark.range(0, 50).select(
            F.col("id").cast("int").alias("k"), F.lit("a").alias("tag")
        ),
        sort_by=["k"],
    )
    t.commit_append(
        spark.range(50, 100).select(
            F.col("id").cast("bigint").alias("k"), F.lit("b").alias("tag")
        ),
        evolve=True, sort_by=["k"],
    )
    # pruned read crosses the narrow/wide boundary exactly
    sub = {r["k"] for r in t.read_where(spark, [("k", ">=", 40), ("k", "<", 60)]).collect()}
    assert sub == set(range(40, 60))
    keep, total = t.files_for([("k", "=", 7)])
    assert len(keep) < total  # stats+bloom prune wide files for a narrow key
    # DV delete spanning both file generations
    assert t.delete_where_dv(spark, [("k", ">=", 48), ("k", "<", 52)]) is not None
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == set(range(100)) - {48, 49, 50, 51}
    # merge on the widened key touches narrow AND wide files
    ups = spark.createDataFrame([(10, "m"), (90, "m")], "k bigint, tag string")
    t.merge_upsert_dv(spark, ups, key="k")
    rows = {r["k"]: r["tag"] for r in t.read(spark).collect()}
    assert rows[10] == "m" and rows[90] == "m" and rows[11] == "a" and len(rows) == 96
    # CDC across the widening boundary (since_version is EXCLUSIVE, so
    # the feed starts at the widening commit) resolves every change
    # type: wide-file inserts, and deletes positioned in BOTH file
    # generations (48/49 narrow, 50/51 wide)
    ch_rows = t.read_changes(spark, since_version=0).collect()
    assert {r["_change_type"] for r in ch_rows} == {"insert", "delete"}
    ins = [r for r in ch_rows if r["k"] == 70 and r["_change_type"] == "insert"]
    assert ins and ins[0]["tag"] == "b"
    dels = {r["k"] for r in ch_rows if r["_change_type"] == "delete"}
    assert {48, 49, 50, 51} <= dels


def test_rename_column_metadata_only(spark, root):
    """Column rename is a metadata-only commit: zero files touched, the
    physical layout keeps the old name forever, reads resolve through
    the manifest's map, and TIME TRAVEL shows each version under its
    own names."""
    t = ManifestTable(root, stats_cols=["k"], bloom_cols=["k"])
    t.commit_append(_df(spark, (0, 30)), sort_by=["k"])
    files_before = list(t.manifest()["files"])
    v_old = t.latest_version()
    t.rename_column("k", "key_id")
    # metadata-only: identical file list, n_rows intact
    assert t.manifest()["files"] == files_before
    assert t.count_rows() == 30
    # reads show the logical name
    got = t.read(spark)
    assert got.columns == ["key_id", "tag"]
    assert {r["key_id"] for r in got.collect()} == set(range(30))
    # time travel: the old version still shows the old name
    assert t.read(spark, v_old).columns == ["k", "tag"]
    # physical files still store the ORIGINAL name
    import pyarrow.parquet as pq
    raw_names = pq.ParquetFile(
        os.path.join(root, t.manifest()["files"][0])
    ).schema_arrow.names
    assert "k" in raw_names and "key_id" not in raw_names
    # stats/bloom-pruned reads work under the NEW name
    sub = {r["key_id"] for r in t.read_where(spark, [("key_id", ">=", 10), ("key_id", "<", 20)]).collect()}
    assert sub == set(range(10, 20))
    keep, total = t.files_for([("key_id", "=", 5)])
    assert len(keep) <= total
    assert t.column_span("key_id") == (0, 29)
    # appends AFTER the rename use the logical name; new files still
    # store the physical name so old and new files stay uniform
    t.commit_append(
        spark.range(30, 40).select(F.col("id").alias("key_id"), F.lit("b").alias("tag"))
    )
    assert t.count_rows() == 40
    newest = t.manifest()["files"][-1]
    assert "k" in pq.ParquetFile(os.path.join(root, newest)).schema_arrow.names
    # incremental read across the rename commit (metadata-only ⇒ file
    # delta still equals row delta), output under current names
    delta = t.read_appended(spark, v_old)
    assert delta.columns == ["key_id", "tag"]
    assert {r["key_id"] for r in delta.collect()} == set(range(30, 40))


def test_rename_validation_and_guards(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="invalid new name"):
        t.rename_column("k", "k")
    with pytest.raises(ValueError, match="already names a column"):
        t.rename_column("k", "tag")
    t.rename_column("k", "k2")
    # renaming ANOTHER column to a renamed-away physical name is
    # ambiguous — rejected
    with pytest.raises(ValueError, match="shadows"):
        t.rename_column("tag", "k")
    # but renaming k2 BACK to its own physical name clears the map
    t.rename_column("k2", "k")
    assert "renames" not in t.manifest()
    assert t.read(spark).columns == ["k", "tag"]
    # double rename: k -> k2 -> k3 keeps ONE map entry (physical k)
    t.rename_column("k", "k2")
    t.rename_column("k2", "k3")
    assert t.manifest()["renames"] == {"k": "k3"}
    assert t.read(spark).columns == ["k3", "tag"]


def test_rename_composes_with_dv_merge_cdc_and_widening(spark, root):
    """Rename + the rest of the surface: DV deletes with predicates on
    the renamed column, bounded merge on the renamed key, CDC emitting
    current names, compact preserving the map, and type-widening
    evolution of a renamed column."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(
        spark.range(0, 40).select(
            F.col("id").cast("int").alias("k"), F.lit("a").alias("tag")
        ),
        sort_by=["k"],
    )
    t.rename_column("k", "key_id")
    # DV delete under the new name
    assert t.delete_where_dv(spark, [("key_id", ">=", 35), ("key_id", "<", 40)]) is not None
    assert {r["key_id"] for r in t.read(spark).collect()} == set(range(35))
    # bounded merge keyed on the RENAMED column
    ups = spark.createDataFrame([(3, "m"), (7, "m")], "key_id int, tag string")
    t.merge_upsert_dv(spark, ups, key="key_id")
    rows = {r["key_id"]: r["tag"] for r in t.read(spark).collect()}
    assert rows[3] == "m" and rows[7] == "m" and rows[4] == "a" and len(rows) == 35
    # CDC over the whole history, current names
    ch = t.read_changes(spark, since_version=0).collect()
    assert all("key_id" in r.asDict() for r in ch)
    assert {r["key_id"] for r in ch if r["_change_type"] == "delete"} >= {35, 3, 7}
    # widening evolution of the RENAMED column (logical batch name)
    t.commit_append(
        spark.range(100, 110).select(
            F.col("id").cast("bigint").alias("key_id"), F.lit("w").alias("tag")
        ),
        evolve=True,
    )
    got = t.read(spark)
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)[
        "key_id"
    ] == "bigint"
    assert got.count() == 45
    # compact (full rewrite) keeps the map — physical names are forever
    t.compact(spark, sort_by=["key_id"])
    assert t.manifest()["renames"] == {"k": "key_id"}
    assert {r["key_id"] for r in t.read(spark).collect()} >= set(range(100, 110))


def test_rename_bucket_key_rejected(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=4)
    t.commit_overwrite(_df(spark, (0, 20)))
    with pytest.raises(ValueError, match="bucket key"):
        t.rename_column("k", "key_id")
    # non-key columns rename fine and the bounded merge still works
    t.rename_column("tag", "label")
    assert t.read(spark).columns == ["k", "label"]
    ups = spark.createDataFrame([(1, "m")], "k long, label string")
    t.merge_upsert(spark, ups)
    rows = {r["k"]: r["label"] for r in t.read(spark).collect()}
    assert rows[1] == "m" and rows[2] == "a" and len(rows) == 20


def test_drop_column_metadata_only(spark, root):
    """Logical drop: zero files rewritten; reads project through the
    narrowed explicit schema; time travel shows the column at old
    versions; re-adding a tombstoned name is rejected (by-name parquet
    resolution would resurrect historic bytes); appends continue under
    the narrowed schema."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit("a").alias("tag"),
            (F.col("id") * 2).alias("extra"),
        )
    )
    files_before = list(t.manifest()["files"])
    v_old = t.latest_version()
    t.drop_column("extra")
    assert t.manifest()["files"] == files_before       # metadata-only
    assert t.read(spark).columns == ["k", "tag"]
    assert t.read(spark, v_old).columns == ["k", "tag", "extra"]  # time travel
    # appends under the narrowed schema work; with `extra` still → reject
    t.commit_append(_df(spark, (20, 30), tag="b"))
    assert t.count_rows() == 30
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(
            spark.range(30, 31).select(
                F.col("id").alias("k"), F.lit("x").alias("tag"),
                F.lit(1).alias("extra"),
            )
        )
    # tombstone: re-adding the dropped name via evolve is rejected
    with pytest.raises(ValueError, match="re-adds dropped"):
        t.commit_append(
            spark.range(30, 31).select(
                F.col("id").alias("k"), F.lit("x").alias("tag"),
                F.lit(9).alias("extra"),
            ),
            evolve=True,
        )
    # a DIFFERENT new column is fine
    t.commit_append(
        spark.range(30, 35).select(
            F.col("id").alias("k"), F.lit("c").alias("tag"),
            F.lit(1.5).cast("double").alias("score"),
        ),
        evolve=True,
    )
    rows = {r["k"]: (r["tag"], r["score"]) for r in t.read(spark).collect()}
    assert rows[5] == ("a", None) and rows[32] == ("c", 1.5) and len(rows) == 35
    # drop guards
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")
    # CDC + incremental read across the drop commit (change-free)
    assert {r["k"] for r in t.read_appended(spark, v_old).collect()} == set(range(20, 35))
    ch = t.read_changes(spark, since_version=v_old)
    assert {r["k"] for r in ch.collect()} == set(range(20, 35))


def test_drop_column_composes_with_rename_and_dv(spark, root):
    """drop + rename + DV on one table: rename a column then drop a
    different one, DV-delete through the renamed predicate; the final
    read resolves correctly and the bucket-key guard holds."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit("a").alias("tag"),
            (F.col("id") * 2).alias("extra"),
        ),
        sort_by=["k"],
    )
    t.rename_column("k", "key_id")
    t.drop_column("extra")
    assert t.read(spark).columns == ["key_id", "tag"]
    t.delete_where_dv(spark, [("key_id", ">=", 15)])
    assert {r["key_id"] for r in t.read(spark).collect()} == set(range(15))
    # dropping the last remaining... (guard sanity on 2-col table)
    t.drop_column("tag")
    assert t.read(spark).columns == ["key_id"]
    with pytest.raises(ValueError, match="last column"):
        t.drop_column("key_id")

    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable
    bt = BucketedManifestTable(str(root) + "_b", key="k", n_buckets=2)
    bt.commit_overwrite(_df(spark, (0, 10)))
    with pytest.raises(ValueError, match="bucket key"):
        bt.drop_column("k")


def test_history_asof_and_restore(spark, root):
    """Table management surface: history() lists the commit log newest
    first; read_asof resolves timestamp time travel; restore() rolls
    back as a NEW commit pointing at the old files (zero data copied),
    carrying the old version's schema/renames/DVs."""
    import time as _t

    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 10)))
    ts_v0 = _t.time()
    _t.sleep(0.05)
    t.commit_append(_df(spark, (10, 20), tag="b"))
    t.delete_where_dv(spark, [("k", ">=", 18)])
    t.rename_column("k", "key_id")

    h = t.history()
    assert [x["action"] for x in h] == ["rename", "delete_dv", "append", "append"]
    assert h[0]["version"] == 3 and h[-1]["version"] == 0
    assert h[1]["n_deletes"] == 1 and h[-1]["n_rows"] == 10

    # timestamp time travel: the snapshot current at ts_v0
    asof = t.read_asof(spark, ts_v0)
    assert asof.columns == ["k", "tag"]
    assert {r["k"] for r in asof.collect()} == set(range(10))
    with pytest.raises(FileNotFoundError, match="no version"):
        t.version_asof(0.0)

    # restore to v1 (pre-delete, pre-rename): new commit, old files by
    # reference; the current state then shows v1's names and rows
    v = t.restore(spark, 1)
    assert v == t.latest_version() and t.manifest()["action"] == "restore"
    cur = t.read(spark)
    assert cur.columns == ["k", "tag"]
    assert {r["k"] for r in cur.collect()} == set(range(20))
    assert t.count_rows() == 20
    # intermediate history stays readable (v3 = renamed + DV state)
    old = t.read(spark, 3)
    assert old.columns == ["key_id", "tag"]
    assert {r["key_id"] for r in old.collect()} == set(range(18))
    # restore state keeps working: append + filter + stats pruning
    t.commit_append(_df(spark, (20, 25), tag="c"))
    assert t.count_rows() == 25
    sub = {r["k"] for r in t.read_where(spark, [("k", ">=", 18)]).collect()}
    assert sub == set(range(18, 25))
    # CDC refuses to cross the restore (rows changed with no record)
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(spark, since_version=0)


def test_restore_rejects_vacuumed_target(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.commit_overwrite(_df(spark, (5, 10), tag="b"))
    t.vacuum(retain_last=1, min_age_s=0.0)
    with pytest.raises(FileNotFoundError):
        t.restore(spark, 0)


def test_apply_cdc_replicates_table(spark, root, tmp_path):
    """The downstream half of CDC: a replica maintained purely by
    folding the source's change feed must equal the source snapshot
    after every catch-up, and re-applying the same feed (epoch marker =
    source version) is a no-op."""
    src = ManifestTable(root, stats_cols=["k"])
    dst = ManifestTable(str(tmp_path / "replica"), stats_cols=["k"])

    def snap(t):
        return {(r["k"], r["tag"]) for r in t.read(spark).collect()}

    # bootstrap: initial append flows through the feed into an empty dst
    src.commit_append(_df(spark, (0, 30)))
    v1 = src.latest_version()
    dst.apply_cdc(spark, src.read_changes(spark, since_version=-1), key="k",
                  epoch_id=f"cdc:{v1}")
    assert snap(dst) == snap(src)
    # more commits: append + DV delete + DV merge (update)
    src.commit_append(_df(spark, (30, 40), tag="b"))
    src.delete_where_dv(spark, [("k", ">=", 35)])
    ups = spark.createDataFrame([(3, "m"), (31, "m")], "k long, tag string")
    src.merge_upsert_dv(spark, ups, key="k")
    v2 = src.latest_version()
    feed = src.read_changes(spark, since_version=v1)
    dst.apply_cdc(spark, feed, key="k", epoch_id=f"cdc:{v2}")
    assert snap(dst) == snap(src)
    assert dst.count_rows() == src.count_rows() == 35
    # exactly-once: re-applying the same feed is absorbed
    before = dst.latest_version()
    assert dst.apply_cdc(spark, feed, key="k", epoch_id=f"cdc:{v2}") is None
    assert dst.latest_version() == before and snap(dst) == snap(src)
    # pure-delete feed: only deletes since v2
    src.delete_where_dv(spark, [("k", ">=", 30), ("k", "<", 33)])
    v3 = src.latest_version()
    dst.apply_cdc(spark, src.read_changes(spark, since_version=v2), key="k",
                  epoch_id=f"cdc:{v3}")
    assert snap(dst) == snap(src) and dst.count_rows() == 32


def test_apply_cdc_newest_change_wins(spark, root, tmp_path):
    """A key touched multiple times in one feed resolves to its final
    state (delete+insert at one version = the insert; a later delete
    beats an earlier insert)."""
    src = ManifestTable(root, stats_cols=["k"])
    dst = ManifestTable(str(tmp_path / "replica"))
    src.commit_append(_df(spark, (0, 10)))
    base = src.latest_version()
    dst.commit_append(_df(spark, (0, 10)))  # replica starts in sync
    # k=2: updated then deleted; k=5: updated twice
    src.merge_upsert_dv(spark, spark.createDataFrame([(2, "u1"), (5, "u1")], "k long, tag string"), key="k")
    src.delete_where_dv(spark, [("k", "=", 2)])
    src.merge_upsert_dv(spark, spark.createDataFrame([(5, "u2")], "k long, tag string"), key="k")
    dst.apply_cdc(spark, src.read_changes(spark, since_version=base), key="k")
    got = {r["k"]: r["tag"] for r in dst.read(spark).collect()}
    assert 2 not in got and got[5] == "u2" and got[3] == "a" and len(got) == 9


# ---------------------------------------------------------------------------
# CHECK constraints (round 7)
# ---------------------------------------------------------------------------

def test_check_constraint_blocks_bad_ingest_everywhere(spark, root):
    """One declared invariant must gate every ingest door: append,
    overwrite, full merge, and DV merge."""
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    v = t.add_check_constraint(spark, "k_nonneg", "k >= 0")
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    bad = spark.range(1).select(F.lit(-1).cast("long").alias("k"), F.lit("x").alias("tag"))
    good = spark.range(1).select(F.lit(99).cast("long").alias("k"), F.lit("x").alias("tag"))
    with pytest.raises(ConstraintViolationError, match="k_nonneg"):
        t.commit_append(bad)
    with pytest.raises(ConstraintViolationError):
        t.commit_overwrite(bad)
    with pytest.raises(ConstraintViolationError):
        t.merge_upsert(spark, bad, "k")
    with pytest.raises(ConstraintViolationError):
        t.merge_upsert_dv(spark, bad, "k")
    # nothing was committed by the failed attempts
    assert t.latest_version() == v
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    # the good batch passes through every door
    t.commit_append(good)
    t.merge_upsert_dv(
        spark, spark.range(1).select(F.lit(3).cast("long").alias("k"), F.lit("upd").alias("tag")), "k"
    )
    assert t.manifest()["n_rows"] == 6


def test_check_constraint_null_passes_not_null_catches(spark, root):
    """SQL CHECK semantics: NULL expression result is not a violation —
    forbidding nulls needs an explicit IS NOT NULL constraint."""
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    t = ManifestTable(root)
    t.commit_append(
        spark.createDataFrame([(1, "a")], "k long, tag string")
    )
    t.add_check_constraint(spark, "tag_short", "length(tag) <= 3")
    # NULL tag → length() NULL → CHECK passes (SQL semantics)
    t.commit_append(spark.createDataFrame([(2, None)], "k long, tag string"))
    t.add_check_constraint(spark, "tag_set", "tag IS NOT NULL OR k < 10")
    with pytest.raises(ConstraintViolationError, match="tag_set"):
        t.commit_append(spark.createDataFrame([(11, None)], "k long, tag string"))


def test_add_constraint_validates_existing_rows(spark, root):
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    v = t.latest_version()
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        t.add_check_constraint(spark, "k_big", "k >= 3")
    assert t.latest_version() == v  # add was refused, no commit
    # violation counts are reported per constraint
    try:
        t.add_check_constraint(spark, "k_big", "k >= 3")
    except ConstraintViolationError as exc:
        assert exc.counts == {"k_big": 3}


def test_constraints_survive_other_commits_and_time_travel(spark, root):
    """The map is sticky across append/DV-delete/merge/compact and
    versioned: time travel sees each version's own set; restore rolls
    the set back with the data."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.add_check_constraint(spark, "k_nonneg", "k >= 0")
    t.commit_append(_df(spark, (5, 8)))
    t.delete_where_dv(spark, [("k", "=", 6)])
    t.merge_upsert_dv(
        spark, spark.range(1).select(F.lit(2).cast("long").alias("k"), F.lit("u").alias("tag")), "k"
    )
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    v_with = t.latest_version()
    t.drop_check_constraint("k_nonneg")
    assert t.constraints() == {}
    # negative rows are accepted again
    t.commit_append(spark.range(1).select(F.lit(-5).cast("long").alias("k"), F.lit("n").alias("tag")))
    # the old version still carries the constraint (metadata time travel)
    assert t.constraints(v_with) == {"k_nonneg": "k >= 0"}
    # restore to the constrained version re-arms enforcement
    t.restore(spark, v_with)
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    with pytest.raises(ConstraintViolationError):
        t.commit_append(
            spark.range(1).select(F.lit(-9).cast("long").alias("k"), F.lit("n").alias("tag"))
        )


def test_constraint_guards_rename_and_drop(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.add_check_constraint(spark, "k_nonneg", "k >= 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        t.rename_column("k", "key")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        t.drop_column("k")
    # a column no constraint mentions renames/drops freely
    t.rename_column("tag", "label")
    t.drop_check_constraint("k_nonneg")
    t.rename_column("k", "key")
    assert t.constraints() == {}


def test_constraint_on_renamed_logical_name(spark, root):
    """Constraints declared over the CURRENT logical names work on a
    renamed table — enforcement runs before physicalization."""
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    t.rename_column("k", "key")
    t.add_check_constraint(spark, "key_cap", "key < 100")
    with pytest.raises(ConstraintViolationError, match="key_cap"):
        t.commit_append(
            spark.range(1).select(F.lit(500).cast("long").alias("key"), F.lit("z").alias("tag"))
        )
    t.commit_append(
        spark.range(1).select(F.lit(50).cast("long").alias("key"), F.lit("z").alias("tag"))
    )
    assert t.manifest()["n_rows"] == 6


def test_constraint_add_unknown_column_fails_loudly(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 3)))
    with pytest.raises(Exception, match="nope|cannot be resolved|UNRESOLVED"):
        t.add_check_constraint(spark, "ghost", "nope > 0")
    assert t.constraints() == {}


# ---------------------------------------------------------------------------
# Incremental small-file compaction (round 7)
# ---------------------------------------------------------------------------

def test_compact_small_rewrites_only_small_files(spark, root):
    """5 tiny append files + 1 large file: compact_small must merge the
    tiny ones and carry the large file BY REFERENCE (same path in the
    new manifest) — bounded-IO maintenance. Reads identical."""
    t = ManifestTable(root, stats_cols=["k"])
    t.commit_append(_df(spark, (0, 2000)).coalesce(1))  # the "large" file
    for i in range(5):
        t.commit_append(_df(spark, (2000 + 10 * i, 2010 + 10 * i)).coalesce(1))
    m_before = t.manifest()
    sizes = {
        f: os.path.getsize(os.path.join(root, f)) for f in m_before["files"]
    }
    big = max(sizes, key=sizes.get)
    before = sorted(r["k"] for r in t.read(spark).collect())
    v = t.compact_small(spark, target_bytes=sizes[big], min_small=2)
    assert v == t.latest_version()
    m_after = t.manifest()
    assert big in m_after["files"]  # carried by reference
    assert len(m_after["files"]) < len(m_before["files"])
    assert m_after["n_rows"] == m_before["n_rows"]
    assert sorted(r["k"] for r in t.read(spark).collect()) == before
    # stats survive for the carried file AND exist for the new files
    keep, total = t.files_for([("k", ">=", 0), ("k", "<", 10)])
    assert len(keep) < total  # pruning still works post-compaction


def test_compact_small_materializes_dv_rows_of_rewritten_files(spark, root):
    """Soft-deleted rows in small files must NOT resurrect through the
    rewrite; n_rows stays live-exact; later deletes still work."""
    t = ManifestTable(root, stats_cols=["k"])
    for i in range(4):
        t.commit_append(_df(spark, (100 * i, 100 * i + 100)).coalesce(1))
    t.delete_where_dv(spark, [("k", ">=", 0), ("k", "<", 50)])
    n_live = t.manifest()["n_rows"]
    assert n_live == 350
    v = t.compact_small(spark, target_bytes=1 << 30, min_small=2)
    assert v is not None
    assert t.manifest()["n_rows"] == 350
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == list(range(50, 400))
    # deletes keep working on the compacted snapshot
    t.delete_where_dv(spark, [("k", ">=", 390)])
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(50, 390))


def test_compact_small_noop_and_time_travel(spark, root):
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 10)).coalesce(1))
    assert t.compact_small(spark, target_bytes=10) is None  # nothing small
    assert t.compact_small(spark, target_bytes=1 << 30, min_small=2) is None
    t.commit_append(_df(spark, (10, 20)).coalesce(1))
    v_before = t.latest_version()
    t.compact_small(spark, target_bytes=1 << 30)
    # old version still reads pre-compaction state
    assert t.read(spark, v_before).count() == 20
    assert t.read(spark).count() == 20


def test_compact_small_composes_with_rename_and_constraints(spark, root):
    from aeuc_vector_db_spark.sources.manifest import ConstraintViolationError

    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 50)).coalesce(1))
    t.commit_append(_df(spark, (50, 60)).coalesce(1))
    t.rename_column("k", "key")
    t.add_check_constraint(spark, "key_pos", "key >= 0")
    v = t.compact_small(spark, target_bytes=1 << 30)
    assert v is not None
    # sticky metadata survived the maintenance commit
    assert t.constraints() == {"key_pos": "key >= 0"}
    assert "key" in t.read(spark).columns
    with pytest.raises(ConstraintViolationError):
        t.commit_append(
            spark.range(1).select(
                F.lit(-1).cast("long").alias("key"), F.lit("x").alias("tag")
            )
        )


def test_constraint_commits_do_not_break_incremental_feeds(spark, root):
    """add/drop constraint are metadata-only: read_appended and
    read_changes must treat them like rename/drop, not like rewrites."""
    t = ManifestTable(root)
    t.commit_append(_df(spark, (0, 5)))
    v0 = t.latest_version()
    t.add_check_constraint(spark, "k_pos", "k >= 0")
    t.commit_append(_df(spark, (5, 8)))
    t.drop_check_constraint("k_pos")
    delta = sorted(r["k"] for r in t.read_appended(spark, since_version=v0).collect())
    assert delta == [5, 6, 7]
    ch = t.read_changes(spark, since_version=v0)
    assert ch.filter(F.col("_change_type") == "insert").count() == 3


def test_compact_small_on_bucketed_is_within_bucket(spark, root):
    """Round 8: the bucketed override compacts WITHIN buckets (file-
    count threshold) instead of rejecting; the base class's size-based
    kwargs are ignored rather than crashing callers."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(root, key="k", n_buckets=4)
    t.commit_append(_df(spark, (0, 10)))
    # base-class kwargs accepted and ignored; single file per bucket →
    # nothing to do
    assert t.compact_small(spark, target_bytes=1 << 30, min_small=2) is None


# ---------------------------------------------------------------------------
# Per-file NDV register sketches (round 7)
# ---------------------------------------------------------------------------

def test_ndv_estimate_is_metadata_only_and_accurate(spark, root):
    """3 appends with overlapping key ranges: the estimate must come
    from the manifest alone (no SparkSession argument at all), land in
    the HLL error band, and equal the single-commit estimate of the
    same data exactly (register merge == fresh sketch)."""
    t = ManifestTable(root, ndv_cols=["k"])
    t.commit_append(_df(spark, (0, 800)))
    t.commit_append(_df(spark, (400, 1200)))  # 400 overlapping keys
    t.commit_append(_df(spark, (1000, 1500)))
    est = t.ndv_estimate("k")
    assert abs(est - 1500) / 1500 < 0.14  # 3 sigma at m=512
    # register-merge exactness: one commit holding the same distinct set
    root2 = root + "_one"
    t2 = ManifestTable(root2, ndv_cols=["k"])
    t2.commit_append(_df(spark, (0, 1500)))
    assert t2.ndv_estimate("k") == est


def test_ndv_registers_survive_maintenance_and_rename(spark, root):
    t = ManifestTable(root, ndv_cols=["k", "tag"])
    t.commit_append(_df(spark, (0, 300)).coalesce(1))
    t.commit_append(_df(spark, (300, 330)).coalesce(1))
    before = t.ndv_estimate("k")
    t.delete_where_dv(spark, [("k", "<", 10)])
    # written-rows semantics: DV deletes don't shrink the sketch
    assert t.ndv_estimate("k") == before
    t.compact_small(spark, target_bytes=1 << 30)
    after = t.ndv_estimate("k")
    # compaction re-sketches identical live values minus none here...
    # the 10 deleted keys WERE materialized away, so the estimate may
    # shrink — but never grow
    assert after <= before
    t.rename_column("k", "key")
    assert t.ndv_estimate("key") == after  # logical-name resolution
    # tag has 1 distinct value
    assert abs(t.ndv_estimate("tag") - 1.0) < 0.01


def test_ndv_estimate_refuses_partial_coverage(spark, root):
    t0 = ManifestTable(root)  # no ndv_cols
    t0.commit_append(_df(spark, (0, 10)))
    t = ManifestTable(root, ndv_cols=["k"])  # same table, ndv enabled later
    t.commit_append(_df(spark, (10, 20)))
    with pytest.raises(ValueError, match="no NDV registers"):
        t.ndv_estimate("k")
    # a full compact() re-writes every file with registers → estimate works
    t.compact(spark)
    assert t.ndv_estimate("k") > 0


def test_ndv_sidecars_survive_vacuum_and_stay_out_of_manifest(spark, root):
    """The register sidecars live with their data dirs: vacuum of old
    versions must not disturb the live snapshot's estimate, and the
    manifest JSON itself must carry NO register payload (the O(files·m)
    copy-forward trap)."""
    t = ManifestTable(root, ndv_cols=["k"])
    t.commit_append(_df(spark, (0, 400)))
    t.commit_overwrite(_df(spark, (0, 700)))  # old version now vacuumable
    est_before = t.ndv_estimate("k")
    t.vacuum(retain_last=1, min_age_s=0.0)
    assert t.ndv_estimate("k") == est_before
    assert abs(est_before - 700) / 700 < 0.14
    m = t.manifest()
    assert "ndv" not in m
    assert "ndv" not in json.dumps(m)


# ---------------------------------------------------------------------------
# Within-bucket small-file compaction (round 8)
# ---------------------------------------------------------------------------

def test_bucketed_compact_small_rewrites_only_crowded_buckets(spark, tmp_path):
    """Epoch-style appends pile one file per bucket per epoch; the
    compaction must rewrite ONLY buckets over the file threshold, carry
    every other bucket by reference, keep the __bucket__ layout, and
    leave the row set untouched."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=4)
    # 6 epoch-like appends → up to 6 files in every bucket
    for e in range(6):
        t.commit_append(_df(spark, (e * 40, e * 40 + 40), tag=f"e{e}"),
                        epoch_id=e)
    m0 = t.manifest()
    per0: dict = {}
    for f, b in m0["buckets"].items():
        per0.setdefault(int(b), []).append(f)
    assert max(len(fs) for fs in per0.values()) > 4
    before = sorted((r["k"], r["tag"]) for r in t.read(spark).collect())

    v = t.compact_small(spark, max_files_per_bucket=4)
    assert v is not None
    m1 = t.manifest()
    per1: dict = {}
    for f, b in m1["buckets"].items():
        per1.setdefault(int(b), []).append(f)
    # crowded buckets collapsed; none exceeds the threshold now
    assert max(len(fs) for fs in per1.values()) <= 4
    # carried-by-reference: any bucket that was NOT crowded keeps paths
    for b, fs in per0.items():
        if len(fs) <= 4:
            assert set(fs) <= set(m1["files"])
    # layout + maps intact, rows identical, counts metadata-exact
    assert all("__bucket__=" in f for f in m1["files"])
    assert set(m1["buckets"]) == set(m1["files"])
    after = sorted((r["k"], r["tag"]) for r in t.read(spark).collect())
    assert after == before and m1["n_rows"] == 240
    # idempotent: immediately re-running finds nothing to do
    assert t.compact_small(spark, max_files_per_bucket=4) is None
    # epoch markers survive compaction (exactly-once resume intact)
    assert {str(e) for e in range(6)} <= set(t.committed_epochs())


def test_bucketed_compact_small_dv_aware(spark, tmp_path):
    """Soft-deleted rows in rewritten buckets must be materialized away
    (not resurrected), and DV rows for untouched files must survive."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "btdv"), key="k", n_buckets=2)
    for e in range(6):
        t.commit_append(_df(spark, (e * 20, e * 20 + 20), tag=f"e{e}"),
                        epoch_id=e)
    t.delete_where_dv(spark, [("k", "=", 7)])
    t.delete_where_dv(spark, [("k", "=", 13)])
    assert t.read(spark).count() == 118
    v = t.compact_small(spark, max_files_per_bucket=2)
    assert v is not None
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert len(got) == 118 and 7 not in got and 13 not in got
    assert t.manifest()["n_rows"] == 118
    # deleted keys stay deleted through a further append + compact
    t.commit_append(_df(spark, (200, 230), tag="late"), epoch_id=99)
    t.compact_small(spark, max_files_per_bucket=1)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert len(got) == 148 and 7 not in got and 13 not in got


def test_bucketed_compact_small_validation(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "btv"), key="k", n_buckets=2)
    with pytest.raises(FileNotFoundError):
        t.compact_small(spark)
    t.commit_append(_df(spark, (0, 10)))
    with pytest.raises(ValueError, match="max_files_per_bucket"):
        t.compact_small(spark, max_files_per_bucket=0)
    assert t.compact_small(spark, max_files_per_bucket=4) is None


def test_estimate_equi_join_rows_metadata_only(spark, tmp_path):
    """System-R estimate from manifests alone: fact (600k rows over 2k
    keys) ⋈ dim (2k unique keys) → ≈|fact|; accuracy within the HLL
    register error; zero-row sides short-circuit to 0; a side without
    NDV registers raises loudly."""
    from aeuc_vector_db_spark.sources.manifest import (
        ManifestTable,
        estimate_equi_join_rows,
    )

    fact = ManifestTable(str(tmp_path / "fact"), ndv_cols=["k"])
    dim = ManifestTable(str(tmp_path / "dim"), ndv_cols=["k"])
    fact.commit_append(
        spark.range(60_000).select((F.col("id") % 2000).alias("k"),
                                   F.col("id").alias("payload"))
    )
    dim.commit_append(
        spark.range(2000).select(F.col("id").alias("k"),
                                 F.lit("d").alias("attr"))
    )
    est = estimate_equi_join_rows(fact, dim, "k")
    true = 60_000  # every fact row matches exactly one dim row
    assert abs(est - true) / true < 0.12  # ~4.6% HLL sigma, generous band
    # renamed key on one side
    dim.rename_column("k", "dim_k")
    est2 = estimate_equi_join_rows(fact, dim, "k", right_key="dim_k")
    assert abs(est2 - est) < 1e-9
    # no registers for the key → loud error, not a silent partial
    bare = ManifestTable(str(tmp_path / "bare"))
    bare.commit_append(spark.range(10).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="no NDV registers"):
        estimate_equi_join_rows(fact, bare, "k")


# ---------------------------------------------------------------------------
# Round-9 hygiene: conflicted-retry disk leaks + exact-count fallback
# ---------------------------------------------------------------------------

def _orphan_data_dirs(t) -> set:
    """First-level dirs under root/data referenced by NO live manifest
    (files or DV sidecars) across every committed version."""
    import os as _os

    data_root = _os.path.join(t.root, "data")
    on_disk = {d for d in _os.listdir(data_root)
               if _os.path.isdir(_os.path.join(data_root, d))}
    referenced = set()
    for v in t.versions():
        m = t.manifest(v)
        for f in m["files"]:
            parts = f.split(_os.sep)
            if len(parts) >= 2 and parts[0] == "data":
                referenced.add(parts[1])
        for d in (m.get("deletes") or []):
            parts = d.split(_os.sep)
            if len(parts) >= 2 and parts[0] == "data":
                referenced.add(parts[1])
    return on_disk - referenced


def _induce_conflicts(t, n):
    """Make the next n _commit calls fail with CommitConflictError."""
    orig = t._commit
    state = {"left": n}

    def flaky(*a, **k):
        if state["left"] > 0:
            state["left"] -= 1
            raise CommitConflictError("induced conflict")
        return orig(*a, **k)

    t._commit = flaky
    return state


def test_bucketed_compact_small_conflict_retry_leaks_no_files(spark, tmp_path):
    """Every conflicted compact_small attempt writes a full rewrite of
    the crowded buckets; those files are referenced by no manifest and
    must be cleaned up on retry — not leaked to disk (ADVICE r8)."""
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "bt"), key="k", n_buckets=2)
    for e in range(6):
        t.commit_append(_df(spark, (e * 20, e * 20 + 20), tag=f"e{e}"),
                        epoch_id=e)
    # soft-delete so the retry path also exercises the DV sidecar cleanup
    t.delete_where_dv(spark, [("k", "=", 7)])
    _induce_conflicts(t, 2)
    v = t.compact_small(spark, max_files_per_bucket=2)
    assert v is not None
    assert _orphan_data_dirs(t) == set()
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert len(got) == 119 and 7 not in got
    assert t.manifest()["n_rows"] == 119


def test_bucketed_merge_upsert_conflict_retry_leaks_no_files(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "btm"), key="k", n_buckets=4)
    t.commit_append(_df(spark, (0, 100)))
    ups = _df(spark, (50, 120), tag="new")
    _induce_conflicts(t, 2)
    t.merge_upsert(spark, ups)
    assert _orphan_data_dirs(t) == set()
    assert t.read(spark).count() == 120
    assert t.read(spark).filter("k = 60 and tag = 'new'").count() == 1


def test_conflict_retries_exhausted_still_raises(spark, tmp_path):
    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "btx"), key="k", n_buckets=2)
    for e in range(4):
        t.commit_append(_df(spark, (e * 10, e * 10 + 10)), epoch_id=e)
    _induce_conflicts(t, 99)
    with pytest.raises(CommitConflictError, match="retries exhausted"):
        t.compact_small(spark, max_files_per_bucket=1, max_retries=2)
    assert _orphan_data_dirs(t) == set()


def test_compact_small_missing_file_rows_reads_footer_not_zero(spark, tmp_path):
    """count_rows is documented exact: an untouched carried-forward file
    missing from the parent's file_rows map must contribute its REAL
    footer row count to the committed n_rows, never a silent 0
    (ADVICE r8)."""
    import json as _json
    import os as _os

    from aeuc_vector_db_spark.sources.manifest import BucketedManifestTable

    t = BucketedManifestTable(str(tmp_path / "btf"), key="k", n_buckets=2)
    # find keys per bucket so exactly one bucket gets crowded
    rows = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(2)).alias("b"),
    ).collect()
    b0 = [r["k"] for r in rows if r["b"] == 0]
    b1 = [r["k"] for r in rows if r["b"] == 1]
    assert len(b0) >= 12 and len(b1) >= 3

    def _keys_df(ks, tag):
        return spark.createDataFrame(
            [(int(k), tag) for k in ks], "k long, tag string"
        )

    # bucket 0: 6 files (crowded); bucket 1: one quiet file of 3 rows
    for e in range(6):
        t.commit_append(_keys_df(b0[e * 2:e * 2 + 2], f"e{e}"), epoch_id=e)
    t.commit_append(_keys_df(b1[:3], "quiet"), epoch_id=100)
    total = t.read(spark).count()
    assert total == 15

    # corrupt the latest manifest: drop the quiet bucket's file_rows rows
    mp = t._manifest_path(t.latest_version())
    with open(mp) as fh:
        m = _json.load(fh)
    quiet = [f for f, b in m["buckets"].items() if int(b) == 1]
    assert quiet
    for f in quiet:
        m["file_rows"].pop(f, None)
    with open(mp, "w") as fh:
        _json.dump(m, fh)

    v = t.compact_small(spark, max_files_per_bucket=4)
    assert v is not None
    m1 = t.manifest()
    assert m1["n_rows"] == total            # exact, footer-derived
    assert t.count_rows() == total
    assert t.read(spark).count() == total
    # the healed map carries the real counts forward
    assert all(n > 0 for n in m1["file_rows"].values())
