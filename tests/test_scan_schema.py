"""Snapshot scans take their schema from the manifest: ``_scan_files``
renders the per-file ``types`` recorded at commit as an explicit read
schema, so planning a read, an upsert's column/type checks or a MOR
anti join runs no schema-inference job. Parity against Spark's own
mergeSchema inference pins that the fold renders the same schema, and the
job guards pin that building a MOR read stays job-free as sidecars pile
up."""

import contextlib
import copy
import uuid

import pytest

from web_analytics_on_aws_spark.sources.evolution import (
    evolve_add_column,
    evolve_widen_column,
)
from web_analytics_on_aws_spark.sources.partitioning import set_partition_spec
from web_analytics_on_aws_spark.sources.snapshots import (
    _check_key_types,
    _fold_types,
    _manifest_deletes,
    _manifest_eq_deletes,
    _read_manifest,
    _scan_files,
    _table_columns,
    commit_append,
    current_version,
    delete_where_mor,
    read_snapshot,
    upsert_keys_mor,
)


@contextlib.contextmanager
def _jobs(spark):
    """Yields a callable returning the number of Spark jobs the block ran
    (job group + status tracker, read after the listener bus drains)."""
    sc = spark.sparkContext
    group = f"scan-schema-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield lambda: out[0]
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id",
        "concat('u', id) AS name",
        "cast(id AS double) / 4 AS score",
        "cast(id % 7 AS int) AS bucket",
        "cast(id AS decimal(12, 2)) AS amount",
        "date_add(date'2024-01-01', cast(id AS int)) AS day",
        "timestamp_seconds(1700000000 + id) AS ts",
        "array(cast(id AS int), 1) AS tags",
        "map('k', id) AS props",
        "named_struct('a', id, 'b', concat('b', id)) AS nested",
    ).coalesce(1)


def _head(t):
    return _read_manifest(t, current_version(t))


def _merged(spark, files):
    return spark.read.option("mergeSchema", "true").parquet(*files).schema


def _assert_parity(spark, t):
    m = _head(t)
    with _jobs(spark) as n:
        df = _scan_files(spark, m["files"], None, m)
    assert n() == 0
    assert df.schema == _merged(spark, m["files"])
    return m


def test_fold_keeps_first_seen_order_and_rejects_gaps():
    assert list(_fold_types([{"a": "int"}, {"b": "string", "a": "int"}])) == [
        "a", "b",
    ]
    assert _fold_types([{"a": "int"}, {"a": "bigint"}]) is None
    assert _fold_types([{"a": "int"}, None]) is None
    assert _fold_types([]) is None


def test_parity_plain(spark, tmp_path):
    t = str(tmp_path / "plain")
    commit_append(_rows(spark, 0, 20), t)
    commit_append(_rows(spark, 20, 30), t)
    _assert_parity(spark, t)


def test_parity_additively_evolved_unmapped(spark, tmp_path):
    t = str(tmp_path / "additive")
    commit_append(spark.range(0, 10).selectExpr("id", "id * 2 AS a").coalesce(1), t)
    commit_append(
        spark.range(10, 20)
        .selectExpr("id", "id * 2 AS a", "concat('x', id) AS b")
        .coalesce(1),
        t,
    )
    m = _assert_parity(spark, t)
    assert m.get("schema") is None
    assert _scan_files(spark, m["files"], None, m).columns == ["id", "a", "b"]
    # the table-column and key-type checks an upsert runs are job-free too
    with _jobs(spark) as n:
        assert _table_columns(spark, m) == ["id", "a", "b"]
        _check_key_types(spark, m, spark.range(1), "test")
    assert n() == 0


def test_parity_mapped_and_widened(spark, tmp_path):
    t = str(tmp_path / "widened")
    commit_append(
        spark.range(0, 10).selectExpr("id", "cast(id AS int) AS v").coalesce(1), t
    )
    evolve_widen_column(spark, t, "v", "bigint")
    evolve_add_column(spark, t, "w", "string")
    before = set(_head(t)["files"])
    commit_append(
        spark.range(10, 20)
        .selectExpr("id", "id AS v", "concat('w', id) AS w")
        .coalesce(1),
        t,
    )
    m = _head(t)
    assert m.get("schema") is not None
    new = [f for f in m["files"] if f not in before]
    with _jobs(spark) as n:
        df = _scan_files(spark, m["files"], m["schema"], m)
    assert n() == 0
    # the declared (widened) types are what a file written after the
    # widening stores; mergeSchema over ALL files refuses int vs bigint
    assert df.schema == _merged(spark, new)
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        _merged(spark, m["files"])
    assert sorted(r["v"] for r in read_snapshot(spark, t).collect()) == list(
        range(20)
    )


def test_parity_partitioned(spark, tmp_path):
    t = str(tmp_path / "partitioned")
    commit_append(_rows(spark, 0, 5), t)
    set_partition_spec(spark, t, [("bucket", "identity")])
    commit_append(_rows(spark, 5, 40), t)
    m = _assert_parity(spark, t)
    assert m.get("file_partitions")


def test_parity_mor_with_deletes_outstanding(spark, tmp_path):
    t = str(tmp_path / "mor")
    commit_append(_rows(spark, 0, 20), t)
    delete_where_mor(spark, t, "id < 3")
    upsert_keys_mor(spark, t, _rows(spark, 10, 25), ["id"])
    m = _assert_parity(spark, t)
    assert _manifest_deletes(m) and _manifest_eq_deletes(m)
    snap = read_snapshot(spark, t)
    assert snap.schema == _merged(spark, m["files"])
    assert sorted(r["id"] for r in snap.collect()) == list(range(3, 25))


@pytest.mark.parametrize("damage", ["missing", "disagree"])
def test_fallback_infers_when_manifest_types_unusable(spark, tmp_path, damage):
    t = str(tmp_path / "fallback")
    commit_append(_rows(spark, 0, 10), t)
    commit_append(_rows(spark, 10, 20), t)
    m = copy.deepcopy(_head(t))
    stats = m["file_stats"][m["files"][-1]]
    if damage == "missing":
        del stats["types"]
    else:
        stats["types"] = dict(stats["types"], id="int")
    with _jobs(spark) as n:
        df = _scan_files(spark, m["files"], None, m)
    # the mergeSchema fallback read the footers (a job), so the schema is
    # the files' real one — not the damaged manifest's
    assert n() > 0
    assert df.schema == _merged(spark, m["files"])
    assert dict(df.dtypes)["id"] == "bigint"


def test_read_snapshot_build_runs_no_jobs_after_mor_commits(spark, tmp_path):
    t = str(tmp_path / "guard")
    commit_append(_rows(spark, 0, 40), t)
    for i in range(4):
        upsert_keys_mor(spark, t, _rows(spark, 10 * i, 10 * i + 15), ["id"])
    delete_where_mor(spark, t, "id = 39")
    m = _head(t)
    assert len(_manifest_eq_deletes(m)) == 4 and _manifest_deletes(m)
    with _jobs(spark) as n:
        snap = read_snapshot(spark, t)
    assert n() == 0
    assert sorted(r["id"] for r in snap.select("id").collect()) == [
        i for i in range(45) if i != 39
    ]


def test_upsert_jobs_do_not_grow_with_outstanding_sidecars(spark, tmp_path):
    t = str(tmp_path / "steady")
    commit_append(_rows(spark, 0, 40), t)
    counts = []
    for i in range(5):
        with _jobs(spark) as n:
            upsert_keys_mor(spark, t, _rows(spark, 5 * i, 5 * i + 10), ["id"])
        counts.append(n())
    # counts[k] is the upsert made with k equality-delete commits outstanding
    assert len(_manifest_eq_deletes(_head(t))) == 5
    assert counts[1] == counts[4], counts
    assert read_snapshot(spark, t).count() == 40


def test_upsert_uniqueness_check_groups_null_keys(spark, tmp_path):
    t = str(tmp_path / "unique")
    commit_append(spark.createDataFrame([(1, "a")], "id long, v string"), t)
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "id long, v string")
    with pytest.raises(ValueError, match="not unique"):
        upsert_keys_mor(spark, t, dup, ["id"])
    # distinct() semantics: two NULL keys are the same key
    nulls = spark.createDataFrame([(None, "x"), (None, "y")], "id long, v string")
    with pytest.raises(ValueError, match="not unique"):
        upsert_keys_mor(spark, t, nulls, ["id"])
    ok = spark.createDataFrame([(None, "x"), (3, "y")], "id long, v string")
    assert upsert_keys_mor(spark, t, ok, ["id"])["rows_upserted"] == 2
    empty = spark.createDataFrame([], "id long, v string")
    assert upsert_keys_mor(spark, t, empty, ["id"])["rows_upserted"] == 0


def test_eq_delete_commit_refuses_unroundtrippable_paths(spark, tmp_path):
    """A literal '+' in the table path decodes to a space on the read side
    — the commit-time probe must refuse the equality delete."""
    t = str(tmp_path / "a+b" / "t")
    commit_append(spark.range(5).coalesce(1), t)
    with pytest.raises(ValueError, match="does not round-trip"):
        upsert_keys_mor(
            spark, t, spark.range(2, 4).coalesce(1), ["id"]
        )
