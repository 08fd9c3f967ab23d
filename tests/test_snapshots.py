"""Snapshot table format: append/overwrite commits, time travel, vacuum."""

from __future__ import annotations

import os

import pytest

from web_analytics_on_aws_spark.sources.snapshots import (
    commit_append,
    delete_where,
    update_where,
    commit_overwrite,
    current_version,
    history,
    read_snapshot,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_creates_versions_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert commit_append(_df(spark, 0, 10), t) == 1
    assert commit_append(_df(spark, 10, 15), t) == 2

    assert read_snapshot(spark, t).count() == 15          # latest
    assert read_snapshot(spark, t, version=1).count() == 10  # time travel
    assert current_version(t) == 2
    ops = [h["operation"] for h in history(t)]
    assert ops == ["append", "append"]


def test_overwrite_isolates_old_readers(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 10), t)
    old = read_snapshot(spark, t, version=1)
    commit_overwrite(_df(spark, 100, 103), t)

    assert read_snapshot(spark, t).count() == 3
    assert old.count() == 10  # v1 files untouched by the overwrite
    assert {r.id for r in read_snapshot(spark, t).collect()} == {100, 101, 102}


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 10), t)
    commit_overwrite(_df(spark, 100, 103), t)  # v1 files now unreferenced by v2

    deleted = vacuum(t, retain_last=1)
    assert deleted >= 1
    # latest still fully readable; old manifest gone
    assert read_snapshot(spark, t).count() == 3
    assert current_version(t) == 2
    assert [h["version"] for h in history(t)] == [2]


def test_failed_write_cannot_corrupt_published_state(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 5), t)
    # simulate a crashed commit: data written but manifest never published
    from web_analytics_on_aws_spark.sources.snapshots import _write_data_files

    orphans = _write_data_files(_df(spark, 50, 60), t)
    assert all(os.path.exists(p) for p in orphans)
    # readers see only the published snapshot
    assert read_snapshot(spark, t).count() == 5
    # vacuum reclaims the orphans
    deleted = vacuum(t, retain_last=1)
    assert deleted >= len(orphans)
    assert read_snapshot(spark, t).count() == 5


def test_merge_snapshot_last_write_wins_with_time_travel(spark, tmp_path):
    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.operators.upsert import merge_snapshot

    t = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [(1, "2026-03-02T10:00:00", "a"), (2, "2026-03-02T10:00:00", "b")],
        "user_id long, timestamp string, payload string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    v1 = merge_snapshot(spark, b1, t, keys=["user_id", "timestamp"])
    assert v1 == 1

    # same key arrives again with new payload + one new key
    b2 = spark.createDataFrame(
        [(1, "2026-03-02T10:00:00", "a2"), (3, "2026-03-02T11:00:00", "c")],
        "user_id long, timestamp string, payload string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    v2 = merge_snapshot(spark, b2, t, keys=["user_id", "timestamp"])
    assert v2 == 2

    now = {r.user_id: r.payload for r in read_snapshot(spark, t).collect()}
    assert now == {1: "a2", 2: "b", 3: "c"}
    before = {r.user_id: r.payload for r in read_snapshot(spark, t, version=1).collect()}
    assert before == {1: "a", 2: "b"}


def test_snapshot_additive_schema_evolution(spark, tmp_path):
    from web_analytics_on_aws_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    v1 = S.commit_append(spark.createDataFrame([(1, "a")], ["id", "name"]), t)
    v2 = S.commit_append(
        spark.createDataFrame([(2, "b", "extra")], ["id", "name", "note"]), t
    )
    cur = S.read_snapshot(spark, t)
    assert set(cur.columns) == {"id", "name", "note"}
    got = {r["id"]: r["note"] for r in cur.collect()}
    assert got == {1: None, 2: "extra"}  # old files surface new col as NULL
    old = S.read_snapshot(spark, t, version=v1)
    assert set(old.columns) == {"id", "name"}  # time travel keeps old schema
    assert v2 == v1 + 1


def test_delete_where_cow_prunes_untouched_files(spark, tmp_path):
    """DELETE rewrites only files containing matches; other files are
    carried by reference; old versions still see the deleted rows."""
    from web_analytics_on_aws_spark.sources.snapshots import _read_manifest

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 100), t)     # v1: ids 0..99
    commit_append(_df(spark, 100, 200), t)   # v2: adds 100..199
    before = set(_read_manifest(t, 2)["files"])

    res = delete_where(spark, t, "id >= 150")
    assert res["operation"] == "delete"
    assert res["rows_matched"] == 50
    assert res["files_kept"] >= 1  # the 0..99 commit untouched
    after = _read_manifest(t, res["version"])["files"]
    # every kept file is carried verbatim from the previous manifest
    assert set(after) & before, "untouched files must be carried by reference"

    now = read_snapshot(spark, t)
    assert now.count() == 150
    assert now.filter("id >= 150").count() == 0
    # time travel still sees pre-delete rows
    assert read_snapshot(spark, t, version=2).count() == 200


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id int, tag string"
    )
    commit_append(df, t)
    res = delete_where(spark, t, "tag = 'a'")  # NULL tag → predicate NULL → keep
    assert res["rows_matched"] == 1
    left = {r["id"] for r in read_snapshot(spark, t).collect()}
    assert left == {2, 3}


def test_update_where_applies_set_and_preserves_rest(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 100), t)
    commit_append(_df(spark, 100, 200), t)
    res = update_where(spark, t, "id < 10", {"v": "v + 1000"})
    assert res["rows_matched"] == 10
    assert res["files_kept"] >= 1
    now = read_snapshot(spark, t)
    assert now.columns == ["id", "v"]
    got = {r["id"]: r["v"] for r in now.collect()}
    assert got[5] == 5 * 2 + 1000 and got[50] == 100 and got[150] == 300
    # old version unchanged
    old = {r["id"]: r["v"] for r in read_snapshot(spark, t, version=2).collect()}
    assert old[5] == 10


def test_delete_then_vacuum_physically_erases(spark, tmp_path):
    """Retention flow: delete → vacuum(retain_last=1) removes every file
    that still held the deleted rows (right-to-be-forgotten completion)."""
    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 100), t)
    delete_where(spark, t, "id < 50")
    vacuum(t, retain_last=1)
    assert read_snapshot(spark, t).count() == 50
    import glob

    live = glob.glob(f"{t}/data/**/*.parquet", recursive=True)
    back = spark.read.parquet(*live)
    assert back.filter("id < 50").count() == 0  # no orphan bytes remain


def test_optimize_compacts_small_files_losslessly(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_manifest,
        optimize,
    )

    t = str(tmp_path / "t")
    for k in range(5):  # 5 micro-batch-sized commits → 5+ small files
        commit_append(_df(spark, k * 10, (k + 1) * 10), t)
    v = current_version(t)
    n_before = len(_read_manifest(t, v)["files"])

    res = optimize(spark, t, small_file_mb=8.0, min_small_files=2)
    assert res["rewritten"] == n_before and res["version"] == v + 1
    m = _read_manifest(t, res["version"])
    assert len(m["files"]) < n_before and m["operation"] == "optimize"
    # row multiset unchanged; time travel still sees the old layout
    now = sorted(tuple(r) for r in read_snapshot(spark, t).collect())
    old = sorted(tuple(r) for r in read_snapshot(spark, t, version=v).collect())
    assert now == old and len(now) == 50
    # second run converges to a no-op (single big-enough file set)
    res2 = optimize(spark, t, small_file_mb=8.0, min_small_files=2)
    assert res2["rewritten"] == 0 and current_version(t) == res["version"]


def test_append_retries_past_concurrent_commit(spark, tmp_path):
    """CAS loss on append: another writer claims vN first → append re-reads
    the head and lands at vN+1 including BOTH writers' rows."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        CommitConflict,
        _publish,
        _read_manifest,
        delete_where,
    )

    t = str(tmp_path / "t")
    commit_append(_df(spark, 0, 10), t)  # v1
    # simulate a concurrent writer publishing v2 before our append's CAS
    other = _df(spark, 100, 110)
    from web_analytics_on_aws_spark.sources.snapshots import _write_data_files

    stolen = _write_data_files(other, t)
    v1_files = _read_manifest(t, 1)["files"]
    _publish(t, 2, v1_files + stolen, "append")

    v = commit_append(_df(spark, 200, 210), t)  # raced: must land at v3
    assert v == 3
    ids = {r["id"] for r in read_snapshot(spark, t).collect()}
    assert ids == set(range(0, 10)) | set(range(100, 110)) | set(range(200, 210))

    # the CAS itself: re-publishing an existing version raises (rewrite
    # commits — overwrite/DML/optimize — have no retry loop, so a lost race
    # propagates this to the caller to re-plan against the new head)
    import pytest as _pytest

    with _pytest.raises(CommitConflict):
        _publish(t, 3, _read_manifest(t, 3)["files"], "append")
    assert delete_where is not None  # rewrite path shares _publish


def test_dml_on_table_path_with_spaces(spark, tmp_path):
    """ADVICE r1: input_file_name() returns URI-escaped paths; DML file
    matching must unquote them or every touched file would be silently kept
    AND rewritten (duplicating rows). A space in the table path exercises
    the escape path end-to-end."""
    from web_analytics_on_aws_spark.sources.snapshots import delete_where

    t = str(tmp_path / "my table")
    commit_append(spark.range(0, 10).selectExpr("id", "id * 2 AS v"), t)
    res = delete_where(spark, t, "id >= 5")
    assert res["rows_matched"] == 5
    assert sorted(r["id"] for r in read_snapshot(spark, t).collect()) == list(range(5))


def test_check_constraints_block_bad_commits(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        ConstraintViolation,
        commit_append,
        commit_overwrite,
        read_snapshot,
        set_constraints,
        table_constraints,
        vacuum,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(1, 10).selectExpr("id", "id * 2 AS v"), t)
    set_constraints(spark, t, {"id_positive": "id > 0", "v_not_null": "v IS NOT NULL"})
    assert set(table_constraints(t)) == {"id_positive", "v_not_null"}

    # good commit passes and constraints carry forward
    commit_append(spark.range(10, 15).selectExpr("id", "id * 2 AS v"), t)
    assert set(table_constraints(t)) == {"id_positive", "v_not_null"}

    # violating append blocked, table unchanged
    before = read_snapshot(spark, t).count()
    with pytest.raises(ConstraintViolation, match="id_positive \\(3 rows\\)"):
        commit_append(spark.range(-2, 3).selectExpr("id", "id * 2 AS v"), t)
    assert read_snapshot(spark, t).count() == before

    # NULL predicate result counts as a violation (ANSI CHECK)
    with pytest.raises(ConstraintViolation, match="v_not_null"):
        commit_overwrite(
            spark.sql("SELECT 5 AS id, CAST(NULL AS BIGINT) AS v"), t
        )

    # constraints survive vacuum (manifest carry-forward)
    commit_append(spark.range(20, 22).selectExpr("id", "id * 2 AS v"), t)
    vacuum(t, retain_last=1)
    assert set(table_constraints(t)) == {"id_positive", "v_not_null"}


def test_set_constraints_rejects_if_existing_data_violates(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        ConstraintViolation,
        commit_append,
        set_constraints,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(-5, 5).selectExpr("id"), t)
    with pytest.raises(ConstraintViolation, match="id_positive"):
        set_constraints(spark, t, {"id_positive": "id > 0"})


def test_update_where_blocked_by_constraints(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        ConstraintViolation,
        commit_append,
        read_snapshot,
        set_constraints,
        update_where,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(1, 6).selectExpr("id", "id * 2 AS v"), t)
    set_constraints(spark, t, {"v_positive": "v > 0"})
    with pytest.raises(ConstraintViolation, match="v_positive"):
        update_where(spark, t, "id = 3", {"v": "-1"})
    # table unchanged; a valid update still goes through
    assert read_snapshot(spark, t).filter("v <= 0").count() == 0
    res = update_where(spark, t, "id = 3", {"v": "99"})
    assert res["rows_matched"] == 1
    assert read_snapshot(spark, t).filter("v = 99").count() == 1


def test_metadata_tables_inspection_surface(spark, tmp_path):
    """Athena-Iceberg-style $history/$snapshots/$files/$partitions over the
    snapshot format: one row per version / live file / commit directory,
    with byte+row rollups from footers only (no data read)."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        delete_where,
        metadata_table,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(0, 100).selectExpr("id", "id % 7 AS v").coalesce(1), t)
    commit_append(spark.range(100, 150).selectExpr("id", "id % 7 AS v").coalesce(1), t)
    delete_where(spark, t, "id < 10")

    hist = metadata_table(spark, t, "history").collect()
    assert [(r["version"], r["operation"]) for r in hist] == [
        (1, "append"), (2, "append"), (3, "delete"),
    ]

    snaps = {r["version"]: r for r in metadata_table(spark, t, "snapshots").collect()}
    assert snaps[2]["added_files"] == 1 and snaps[2]["removed_files"] == 0
    assert snaps[3]["added_files"] >= 1 and snaps[3]["removed_files"] >= 1

    files = metadata_table(spark, t, "files").collect()
    assert sum(r["record_count"] for r in files) == 140  # 150 - 10 deleted
    assert all(r["file_size_bytes"] > 0 for r in files)

    parts = metadata_table(spark, t, "partitions").collect()
    assert sum(r["record_count"] for r in parts) == 140
    assert len(parts) == len({r["partition"] for r in parts})

    with pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(spark, t, "nope")


def test_merge_into_updates_inserts_cow(spark, tmp_path):
    """MERGE: matched rows replaced, unmatched inserted, only the touched
    file rewritten, old version time-travels to pre-merge values."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        merge_into,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, val string"
        ).coalesce(1), t,
    )
    commit_append(
        spark.createDataFrame(
            [(10, "x"), (11, "y")], "id long, val string"
        ).coalesce(1), t,
    )
    src = spark.createDataFrame(
        [(2, "B2"), (99, "new")], "id long, val string"
    )
    res = merge_into(spark, t, src, ["id"])
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 1
    assert res["files_rewritten"] == 1 and res["files_kept"] == 1
    now = {r["id"]: r["val"] for r in read_snapshot(spark, t).collect()}
    assert now == {1: "a", 2: "B2", 10: "x", 11: "y", 99: "new"}
    before = {
        r["id"]: r["val"]
        for r in read_snapshot(spark, t, version=res["version"] - 1).collect()
    }
    assert before[2] == "b" and 99 not in before


def test_merge_into_exactly_once_and_validation(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        merge_into,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, 10.0)], "id long, v double").coalesce(1), t
    )
    src = spark.createDataFrame([(1, 20.0), (2, 30.0)], "id long, v double")
    r1 = merge_into(spark, t, src, ["id"], txn=("app", 1))
    r2 = merge_into(spark, t, src, ["id"], txn=("app", 1))  # replayed batch
    assert r2.get("replayed") and r2["version"] == r1["version"]
    assert read_snapshot(spark, t).count() == 2  # no duplicate application

    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)], "id long, v double")
    with pytest.raises(ValueError, match="not unique"):
        merge_into(spark, t, dup, ["id"])
    short = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="lacks table columns"):
        merge_into(spark, t, short, ["id"])


def test_merge_into_stats_count_source_keys_not_target_rows(spark, tmp_path):
    """ADVICE r2: a source key matching MULTIPLE target rows (appends don't
    enforce key uniqueness) must report 1 update — not N updates and a
    negative insert count — and all matched rows collapse to the source row."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        merge_into,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame(
            [(1, "a1"), (1, "a2"), (2, "b")], "id long, val string"
        ).coalesce(1), t,
    )
    src = spark.createDataFrame([(1, "A")], "id long, val string")
    res = merge_into(spark, t, src, ["id"])
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
    now = sorted((r["id"], r["val"]) for r in read_snapshot(spark, t).collect())
    assert now == [(1, "A"), (2, "b")]


def test_merge_into_drops_extra_source_columns_on_both_paths(spark, tmp_path):
    """ADVICE r2: the matched path projects extra source columns away; the
    no-matched-files path must apply the SAME projection (merge never
    evolves the table schema)."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        merge_into,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1), t
    )
    # insert-only merge (no matched files): extra column must not leak in
    src = spark.createDataFrame(
        [(9, "z", "EXTRA")], "id long, val string, extra string"
    )
    res = merge_into(spark, t, src, ["id"])
    assert res["rows_updated"] == 0 and res["rows_inserted"] == 1
    out = read_snapshot(spark, t)
    assert sorted(out.columns) == ["id", "val"]
    # matched merge with extras: same projection
    src2 = spark.createDataFrame(
        [(1, "A", "EXTRA")], "id long, val string, extra string"
    )
    merge_into(spark, t, src2, ["id"])
    out2 = read_snapshot(spark, t)
    assert sorted(out2.columns) == ["id", "val"]
    assert {r["id"]: r["val"] for r in out2.collect()} == {1: "A", 9: "z"}


def test_table_changes_reads_only_changed_files(spark, tmp_path):
    """CDF between versions: append → inserts; merge → delete+insert pair
    for the updated key + insert for the new key; untouched files are never
    scanned (checked via the plan's input files)."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        merge_into,
        table_changes,
    )

    t = str(tmp_path / "t")
    commit_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string").coalesce(1),
        t,
    )
    commit_append(
        spark.createDataFrame([(3, "c")], "id long, val string").coalesce(1), t
    )
    # v1 → v2: pure append
    ch = table_changes(spark, t, 1, 2)
    assert [(r["id"], r["_change_type"]) for r in ch.collect()] == [(3, "insert")]

    # v2 → v3: merge updates id=2 (file 1 rewritten) and inserts id=9
    merge_into(
        spark, t,
        spark.createDataFrame([(2, "B"), (9, "z")], "id long, val string"),
        ["id"],
    )
    ch = {(r["id"], r["val"], r["_change_type"]) for r in table_changes(spark, t, 2).collect()}
    assert ch == {(2, "B", "insert"), (9, "z", "insert"), (2, "b", "delete")}
    # id=1's row survived in the rewritten scope; id=3's file is untouched —
    # neither appears in the feed, and the untouched v2 file is not scanned
    from web_analytics_on_aws_spark.sources.snapshots import _read_manifest

    untouched = set(_read_manifest(t, 2)["files"]) & set(_read_manifest(t, 3)["files"])
    feed_inputs = set(table_changes(spark, t, 2).inputFiles())
    assert untouched and not {f"file://{p}" for p in untouched} & feed_inputs \
        and not untouched & feed_inputs

    # identical versions → typed empty feed
    assert table_changes(spark, t, 3, 3).count() == 0


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: every manifest carries a wall-clock commit stamp;
    reads resolve the latest version at-or-before the timestamp (Delta's
    contract, incl. the too-early error), and pre-stamp manifests fall
    back to manifest mtime."""
    import json as _json
    import os as _os
    import time as _time

    from web_analytics_on_aws_spark.sources.snapshots import (
        read_snapshot,
        version_as_of,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(0, 5).coalesce(1), t)
    t_between = _time.time()
    _time.sleep(0.05)
    commit_append(spark.range(5, 10).coalesce(1), t)

    assert version_as_of(t, t_between) == 1
    assert version_as_of(t, _time.time()) == 2
    assert read_snapshot(spark, t, as_of_timestamp=t_between).count() == 5
    assert read_snapshot(spark, t, as_of_timestamp=_time.time()).count() == 10
    with pytest.raises(ValueError, match="no snapshot"):
        version_as_of(t, t_between - 3600)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, t, version=1, as_of_timestamp=t_between)
    # pre-stamp manifest: drop the stamp, mtime fallback still resolves
    mp = _os.path.join(t, "manifests", "v1.json")
    with open(mp) as fh:
        m = _json.load(fh)
    m.pop("committed_at")
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    assert version_as_of(t, _time.time()) == 2
    assert read_snapshot(spark, t, as_of_timestamp=_time.time()).count() == 10


def test_commit_timestamps_are_monotonic_under_clock_regression(
    spark, tmp_path, monkeypatch
):
    """ADVICE r3: committed_at follows Delta's adjusted-commit-timestamp
    contract — a later version NEVER stamps earlier than its predecessor,
    even if the wall clock steps backwards (NTP, VM migration), so
    version_as_of stays deterministic."""
    import time as _time

    from web_analytics_on_aws_spark.sources import snapshots as S

    t = str(tmp_path / "t")
    commit_append(spark.range(0, 3).coalesce(1), t)
    t1 = S._commit_time(t, 1)
    # clock regression: the next commit sees wall time one hour in the past
    real = _time.time
    monkeypatch.setattr(S.time, "time", lambda: real() - 3600.0)
    commit_append(spark.range(3, 6).coalesce(1), t)
    t2 = S._commit_time(t, 2)
    assert t2 > t1
    # TIMESTAMP AS OF between the stamps resolves v1, after t2 resolves v2
    assert S.version_as_of(t, (t1 + t2) / 2) == 1
    assert S.version_as_of(t, t2) == 2


def test_eq_delete_key_type_mismatch_raises(spark, tmp_path):
    """ADVICE r3: a mistyped equality-delete key (string ids vs bigint
    column) would silently match nothing at read time — refused at commit
    time instead, for both delete_keys_mor and upsert_keys_mor."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        delete_keys_mor,
        read_snapshot,
        upsert_keys_mor,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(0, 5).coalesce(1), t)
    with pytest.raises(ValueError, match="type mismatch"):
        delete_keys_mor(spark, t, spark.createDataFrame([("3",)], "id string"))
    with pytest.raises(ValueError, match="type mismatch"):
        upsert_keys_mor(
            spark, t,
            spark.createDataFrame([("3",)], "id string"), ["id"],
        )
    # correctly-typed keys still commit and delete
    delete_keys_mor(spark, t, spark.createDataFrame([(3,)], "id long"))
    assert sorted(
        r["id"] for r in read_snapshot(spark, t).collect()
    ) == [0, 1, 2, 4]


def test_vacuum_orphan_grace_protects_inflight_writes(spark, tmp_path):
    """A file written by a concurrent commit that has NOT yet published
    its manifest is unreferenced — vacuum with an orphan grace keeps it
    (Iceberg's remove_orphan_files older_than guard); grace 0 collects."""
    import os

    from web_analytics_on_aws_spark.sources.snapshots import (
        DATA_DIR,
        commit_append,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(5).selectExpr("id as k"), t)
    commit_append(spark.range(5, 10).selectExpr("id as k"), t)
    # simulate an in-flight writer: durable data file, no manifest yet
    stray_dir = os.path.join(t, DATA_DIR, "inflight")
    os.makedirs(stray_dir)
    spark.range(3).selectExpr("id as k").coalesce(1).write.parquet(
        stray_dir + "/x"
    )
    strays = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(stray_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert strays
    vacuum(t, retain_last=1, orphan_grace_seconds=3600)
    assert all(os.path.exists(p) for p in strays)  # grace kept them
    assert read_snapshot(spark, t).count() == 10
    deleted = vacuum(t, retain_last=1)  # grace 0: orphans collected
    assert deleted >= len(strays)
    assert not any(os.path.exists(p) for p in strays)
