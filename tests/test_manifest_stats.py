"""Manifest column statistics (snapshots.collect_file_stats) — Iceberg's
per-file lower/upper bounds, collected once at commit time so scan
PLANNING never opens a parquet footer: min/max skipping becomes a dict
lookup next to the partition-tuple check.

Reference parity: Iceberg manifests store lower_bounds/upper_bounds per
data file and Athena plans scans from them (the reference's tables get
this from managed Iceberg); this is the jar-free equivalent.
"""

from __future__ import annotations

import datetime
import os

import pyspark.sql.functions as F
import pytest

from web_analytics_on_aws_spark.sources.snapshot_datasource import (
    planned_files,
    SnapshotDataSource,
    SnapshotReader,
)
from web_analytics_on_aws_spark.sources.snapshots import (
    _read_manifest,
    commit_append,
    commit_overwrite,
    current_version,
    optimize,
    read_snapshot,
)


@pytest.fixture()
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)
    return spark


def _kept(table, filters):
    r = SnapshotReader({"path": table}, None)
    r.pushFilters(filters)
    return len(planned_files(r.partitions()))


def _stats(table):
    """{path: column bounds} — the "cols" half of each file_stats entry."""
    m = _read_manifest(table, current_version(table))
    return {p: e.get("cols", {}) for p, e in m.get("file_stats", {}).items()}


def _stats_full(table):
    return _read_manifest(table, current_version(table)).get("file_stats", {})


def _n_segments(table):
    """Segment files the current head references (groups expanded)."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _effective_segments,
        _read_manifest_head,
    )

    head = _read_manifest_head(table, current_version(table))
    return len(_effective_segments(table, head))


def _data_opens(opens):
    """The opened paths that are NOT manifest segments."""
    segs = os.path.join("manifests", "segs") + os.sep
    return [p for p in opens if segs not in str(p)]


def _mk(spark, tmp_path, name="t"):
    t = str(tmp_path / name)
    # three value-disjoint files: k in [0,10), [100,110), [200,210)
    for base in (0, 100, 200):
        commit_append(
            spark.range(base, base + 10)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 2).cast("double").alias("v"),
                F.concat(F.lit("u"), F.col("id")).alias("s"),
            )
            .coalesce(1),
            t,
        )
    return t


def test_commit_records_min_max(spark, tmp_path):
    t = _mk(spark, tmp_path)
    st = _stats(t)
    m = _read_manifest(t, current_version(t))
    assert set(st) == set(m["files"])  # every data file has an entry
    los = sorted(e["k"][0] for e in st.values())
    his = sorted(e["k"][1] for e in st.values())
    assert los == [0, 100, 200] and his == [9, 109, 209]
    # doubles and strings ride too
    assert any(e["v"] == [0.0, 18.0] for e in st.values())
    assert any(e["s"][0] == "u0" for e in st.values())


def test_planning_skips_without_footer_io(registered, tmp_path, monkeypatch):
    """The core claim: with manifest stats present, partitions() decides
    min/max pruning with ZERO ParquetFile opens (at 100k files that is the
    difference between one manifest read and 100k footer reads)."""
    t = _mk(registered, tmp_path)
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

    import pyarrow.parquet as pq

    real = pq.ParquetFile
    opens = []

    def counting(path, *a, **kw):
        opens.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    n_segs = _n_segments(t)

    def kept(filters):
        opens.clear()
        n = _kept(t, filters)
        # planning never touched a data-file footer; the only parquet
        # opens are the manifest's own segments, each at most once
        assert _data_opens(opens) == []
        assert len(opens) <= n_segs
        return n

    assert kept([EqualTo(("k",), 105)]) == 1
    assert kept([GreaterThan(("k",), 150)]) == 1
    assert kept([LessThan(("k",), 50)]) == 1
    assert kept([In(("k",), (5, 205))]) == 2
    # string bounds prune lexicographically: "u105" sorts inside [u0,u9]
    # so that file survives too — 2 kept, the [u200,u209] file pruned
    assert kept([EqualTo(("s",), "u105")]) == 2
    assert kept([EqualTo(("k",), 99999)]) == 0


def test_pruning_results_match_data(registered, tmp_path):
    t = _mk(registered, tmp_path)
    got = (
        registered.read.format("snapshot").option("path", t).load()
        .filter("k > 150")
    )
    assert sorted(r.k for r in got.collect()) == list(range(200, 210))


def test_timestamp_and_date_bounds_roundtrip(registered, tmp_path):
    t = str(tmp_path / "t")
    rows = [
        (datetime.datetime(2024, 1, 1 + i, 12), datetime.date(2024, 1, 1 + i))
        for i in range(3)
    ]
    for r in rows:
        commit_append(
            registered.createDataFrame(
                [r], "ts timestamp, d date"
            ).coalesce(1),
            t,
        )
    st = _stats(t)
    assert len(st) == 3
    assert all(e["ts"][0][0] == "t" and e["d"][0][0] == "d"
               for e in st.values())
    from pyspark.sql.datasource import GreaterThanOrEqual

    assert _kept(
        t, [GreaterThanOrEqual(("ts",), datetime.datetime(2024, 1, 3))]
    ) == 1
    assert _kept(
        t, [GreaterThanOrEqual(("d",), datetime.date(2024, 1, 3))]
    ) == 1


def test_stats_carry_and_refresh_through_rewrites(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = _stats(t)
    # overwrite replaces stats wholesale
    commit_overwrite(
        spark.range(500, 505).select(
            F.col("id").alias("k"),
            F.lit(1.0).alias("v"),
            F.lit("x").alias("s"),
        ),
        t,
    )
    st = _stats(t)
    assert set(st) != set(before)
    # empty part files record {} (no stats, conservatively kept)
    nonempty = [e for e in st.values() if e]
    assert nonempty and all(
        500 <= e["k"][0] <= e["k"][1] <= 504 for e in nonempty
    )
    # optimize outputs get fresh stats covering the merged range
    res = optimize(spark, t, small_file_mb=8.0, min_small_files=2)
    if res["rewritten"]:
        st2 = _stats(t)
        m = _read_manifest(t, current_version(t))
        assert set(st2) == set(m["files"])
    assert read_snapshot(spark, t).count() == 5


def test_legacy_manifest_footer_fallback(registered, tmp_path):
    """Tables committed before file_stats existed keep pruning via the
    footer path — drop the stats block from the head manifest and verify
    identical pruning."""
    import json
    import os

    t = _mk(registered, tmp_path)
    v = current_version(t)
    mp = os.path.join(t, "manifests", f"v{v:012d}.json")
    if not os.path.exists(mp):
        mp = [
            os.path.join(t, "manifests", f)
            for f in os.listdir(os.path.join(t, "manifests"))
            if f.endswith(".json")
        ][-1]
    with open(mp) as fh:
        m = json.load(fh)
    m.pop("file_stats", None)
    os.remove(mp)
    with open(mp, "w") as fh:
        json.dump(m, fh)
    from pyspark.sql.datasource import EqualTo

    assert _kept(t, [EqualTo(("k",), 105)]) == 1  # footer stats still prune


# ---------------------------------------------------------------------------
# write sort order (set_sort_order) — the layout half of manifest stats
# ---------------------------------------------------------------------------


def test_sort_order_makes_bounds_disjoint(registered, tmp_path):
    """WRITE ORDERED BY: without an order, every file of a shuffled append
    spans the full key range (no file can ever be skipped); with the
    order set, the range-exchange write gives each file a narrow band and
    an equality probe plans O(1) files — manifest stats are only as good
    as the layout, and the sort order is what makes them good."""
    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.sources.snapshots import (
        set_sort_order,
        table_sort_order,
    )

    spark = registered
    shuffled = (
        spark.range(3000)
        .select((F.col("id") * 1315423911 % 3000).alias("k"))
        .repartition(4)  # 4 shuffled files, each spanning ~[0, 3000)
    )
    t_unsorted = str(tmp_path / "u")
    commit_append(shuffled, t_unsorted)
    from pyspark.sql.datasource import EqualTo

    assert _kept(t_unsorted, [EqualTo(("k",), 1500)]) >= 4  # nothing skips

    t_sorted = str(tmp_path / "s")
    commit_append(shuffled.limit(0), t_sorted)
    v = set_sort_order(spark, t_sorted, ["k"])
    assert v == 2 and table_sort_order(t_sorted) == ["k"]
    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        commit_append(shuffled, t_sorted)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", coalesce
        )
    st = [e for e in _stats(t_sorted).values() if e]
    assert len(st) >= 4
    # disjoint bands: each file's k-range overlaps no other's
    bands = sorted((e["k"][0], e["k"][1]) for e in st)
    assert all(bands[i][1] < bands[i + 1][0] for i in range(len(bands) - 1))
    kept = _kept(t_sorted, [EqualTo(("k",), 1500)])
    assert kept <= 2  # O(1) files for a point probe (+ empty seed at most)
    got = (
        registered.read.format("snapshot").option("path", t_sorted).load()
        .filter("k = 1500")
    )
    assert got.count() == shuffled.filter("k = 1500").count()


def test_sort_order_metadata_carries_and_clears(spark, tmp_path):
    from web_analytics_on_aws_spark.sources.snapshots import (
        set_sort_order,
        table_sort_order,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(10).selectExpr("id as k"), t)
    set_sort_order(spark, t, ["k"])
    commit_append(spark.range(10, 20).selectExpr("id as k"), t)
    assert table_sort_order(t) == ["k"]  # carried across commits
    set_sort_order(spark, t, [])
    assert table_sort_order(t) is None
    with pytest.raises(ValueError, match="not in table"):
        set_sort_order(spark, t, ["nope"])


def test_rows_bytes_in_stats_and_footer_free_statistics(
    spark, tmp_path, monkeypatch
):
    """file_stats carries per-file row/byte counts, so table_statistics on
    a stats-bearing table opens ZERO footers (at 100k files: a dict fold
    instead of 100k opens)."""
    from web_analytics_on_aws_spark.sources.snapshots import table_statistics

    t = _mk(spark, tmp_path)
    full = _stats_full(t)
    assert sorted(e["rows"] for e in full.values()) == [10, 10, 10]
    assert all(e["bytes"] > 0 for e in full.values())

    import pyarrow.parquet as pq

    def boom(*a, **kw):
        raise AssertionError("table_statistics opened a footer")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    st = table_statistics(t)
    assert st == {
        "row_count": 30,
        "size_bytes": sum(e["bytes"] for e in full.values()),
        "n_files": 3,
        "exact": True,
    }


def test_show_table_partitions_manifest_only(registered, tmp_path, monkeypatch):
    """SHOW PARTITIONS analog (reference D7): per-tuple file/row/byte
    census answered from the manifest alone — zero file I/O."""
    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.sources.partitioning import (
        set_partition_spec,
        show_table_partitions,
    )

    spark = registered
    t = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "view").otherwise("click").alias("ev"),
    )
    commit_append(df.limit(0), t)
    set_partition_spec(spark, t, [("ev", "identity")])
    commit_append(df, t)

    import pyarrow.parquet as pq

    real = pq.ParquetFile
    opens = []

    def counting(path, *a, **kw):
        opens.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    parts = show_table_partitions(t)
    # no data-file footer opened; only the manifest's segments, each once
    assert _data_opens(opens) == []
    assert len(opens) <= _n_segments(t)
    by_val = {
        p["values"]["ev"]: p for p in parts if p["values"] is not None
    }
    assert by_val["view"]["rows"] == 100
    assert by_val["click"]["rows"] == 200
    assert all(p["n_files"] >= 1 for p in parts)

    # refuses while MOR sidecars are outstanding (counts would lie)
    from web_analytics_on_aws_spark.sources.snapshots import delete_where_mor

    monkeypatch.undo()
    delete_where_mor(spark, t, "id % 10 = 0")
    with pytest.raises(ValueError, match="merge-on-read"):
        show_table_partitions(t)


def test_reader_schema_resolves_from_manifest(registered, tmp_path, monkeypatch):
    """Unmapped tables: the DataSource's union schema comes from the
    manifest's recorded per-file types — reader construction does zero
    pq.read_schema walks (O(files) metadata reads at 100k files)."""
    t = _mk(registered, tmp_path)

    import pyarrow.parquet as pq

    real = pq.read_schema
    walks = []

    def counting(path, *a, **kw):
        walks.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "read_schema", counting)
    df = registered.read.format("snapshot").option("path", t).load()
    assert dict(df.dtypes) == {"k": "bigint", "v": "double", "s": "string"}
    assert walks == []  # schema() + reader() never walked the files
    monkeypatch.undo()
    assert df.count() == 30


def test_restore_repins_file_stats(registered, tmp_path):
    """ADVICE r6: RESTORE re-pins manifest column stats alongside the file
    list — _publish only carries stats for files in the CURRENT head, so
    files reintroduced by the restore would otherwise lose their bounds
    and planning would degrade back to footer opens."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        commit_overwrite,
        restore_version,
    )

    spark = registered
    t = str(tmp_path / "t")
    commit_append(
        spark.range(100).select(F.col("id").alias("k")), t
    )
    v1 = current_version(t)
    v1_files = set(_read_manifest(t, v1)["files"])
    assert all(f in _stats_full(t) for f in v1_files)
    # overwrite drops v1's files from the head (and their stats with them)
    commit_overwrite(
        spark.range(500, 600).select(F.col("id").alias("k")), t
    )
    assert not any(f in _stats_full(t) for f in v1_files)

    restore_version(spark, t, v1)
    fs = _stats_full(t)
    assert all(f in fs and "k" in fs[f]["cols"] for f in v1_files)
    # and table_statistics stays manifest-only (exact rows, no footer walk)
    from web_analytics_on_aws_spark.sources.snapshots import table_statistics

    st = table_statistics(t)
    assert st["row_count"] == 100 and st["exact"]


def test_partition_census_counts_statsless_groups(registered, tmp_path):
    """VERDICT r6 #4: the per-value census must never silently drop a
    partition whose files predate manifest stats (show_table_partitions
    returns rows=None for those, by contract). Such groups fall back to
    one scan of exactly their files; stats-backed groups stay
    manifest-only."""
    import pyspark.sql.functions as F

    from web_analytics_on_aws_spark.sources.partitioning import (
        partition_value_census,
        set_partition_spec,
        show_table_partitions,
    )
    from web_analytics_on_aws_spark.sources.snapshots import (
        _publish_raw,
        _read_manifest_head,
        _summarize_segment,
        _write_segment_entries,
    )

    spark = registered
    t = str(tmp_path / "t")
    df1 = spark.range(120).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "view").otherwise("click").alias("ev"),
    )
    commit_append(df1.limit(0), t)
    set_partition_spec(spark, t, [("ev", "identity")])
    commit_append(df1, t)
    # simulate files committed without stats: re-home every entry in a
    # stats-less segment and publish a head over it
    v = current_version(t)
    m = _read_manifest(t, v)
    fp = m.get("file_partitions", {})
    entries = {
        f: {"seq": m["file_seq"][f]} | ({"part": fp[f]} if f in fp else {})
        for f in m["files"]
    }
    rel = _write_segment_entries(t, entries)
    head = _read_manifest_head(t, v)
    head.pop("groups", None)
    _publish_raw(t, v + 1, head | {
        "version": v + 1,
        "committed_at": head["committed_at"] + 1e-3,
        "segments": [_summarize_segment(rel, entries)],
    })
    # a later, stats-carrying commit adds a third value + more of 'view'
    df2 = spark.range(500, 560).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "purchase").otherwise("view").alias("ev"),
    )
    commit_append(df2, t)

    # the conservative SHOW PARTITIONS contract still reports rows=None
    legacy = [
        p for p in show_table_partitions(t)
        if p["values"] is not None and p["rows"] is None
    ]
    assert legacy  # the stripped groups really are stats-less

    counts = partition_value_census(spark, t, "ev")
    want = {
        r["ev"]: r["n"]
        for r in df1.unionByName(df2).groupBy("ev").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert counts == want


def test_distributed_stats_collection_matches_serial(
    registered, tmp_path, monkeypatch
):
    """VERDICT r6 #2: large object-store commits collect footer stats in
    executor tasks (mapInPandas fan-out) instead of a serial driver loop;
    the fold must be byte-identical to the serial path. Local paths keep
    the driver loop by default (page-cache footers beat job overhead), so
    the distributed branch is forced here."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _STATS_DISTRIBUTE_MIN,
        _should_distribute_stats,
        collect_file_stats,
    )

    # scheme-aware dispatch: local paths stay serial, object-store paths
    # distribute at the commit-size threshold
    many_local = [f"/tmp/x{i}.parquet" for i in range(100)]
    many_s3 = [f"s3a://b/x{i}.parquet" for i in range(100)]
    assert not _should_distribute_stats(many_local)
    assert _should_distribute_stats(many_s3)
    assert not _should_distribute_stats(many_s3[:10])

    spark = registered
    t = str(tmp_path / "t")
    n = _STATS_DISTRIBUTE_MIN + 6
    df = spark.range(7000).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"),
        F.expr(
            "timestamp_micros(cast(1709600000000000 + id * 1000000 as long))"
        ).alias("ts"),
    )
    commit_append(df.repartition(n), t)
    m = _read_manifest(t, current_version(t))
    assert len(m["files"]) >= n
    serial = collect_file_stats(m["files"])
    monkeypatch.setenv("SPARK_GRAFT_STATS_DISTRIBUTE", "always")
    distributed = collect_file_stats(m["files"], spark)
    assert distributed == serial
    # the committed manifest agrees too
    assert m["file_stats"] == serial


def test_long_string_bounds_truncate_and_still_prune(registered, tmp_path):
    """VERDICT r6 #6: strings over the 96-char cap used to DROP the
    column's stats for the file; they now store Iceberg-style truncated
    bounds — prefix lower, increment-last-char upper — so a long-URL
    column still range-prunes, and the truncated envelope can never
    wrongly drop a matching file."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _STATS_MAX_STR,
        _trunc_upper,
    )

    spark = registered
    t = str(tmp_path / "t")
    # three disjoint URL bands, one file each; every URL is > 96 chars
    pad = "x" * 150
    urls = [
        (i, f"https://{host}.example.com/{pad}/p{i:04d}")
        for host, lo in (("alpha", 0), ("beta", 100), ("gamma", 200))
        for i in range(lo, lo + 40)
    ]
    df = spark.createDataFrame(urls, "id long, url string")
    for host in ("alpha", "beta", "gamma"):
        commit_append(
            df.filter(F.col("url").startswith(f"https://{host}")).coalesce(1),
            t,
        )
    st = {p: b for p, b in _stats(t).items() if b}
    assert len(st) == 3
    for bounds in st.values():
        assert "url" in bounds  # stats survived despite >96-char values
        lo, hi = bounds["url"]
        assert len(lo) <= _STATS_MAX_STR and len(hi) <= _STATS_MAX_STR

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    # range probes prune to the matching band's file
    assert _kept(t, [GreaterThanOrEqual(("url",), "https://gamma")]) == 1
    assert _kept(t, [LessThan(("url",), "https://beta")]) == 1
    # correctness: a probe that straddles the truncation point keeps the
    # right file and returns the right rows (the incremented upper bound
    # sorts ABOVE every real value; a bare prefix would have sorted below)
    got = (
        spark.read.format("snapshot").option("path", t).load()
        .filter(F.col("url") >= F.lit("https://gamma"))
    )
    assert got.count() == 40

    # unit pins for the increment dance
    assert _trunc_upper("a" * 200) == "a" * 95 + "b"
    assert _trunc_upper("a" * 95 + "\U0010ffff" * 50) == "a" * 94 + "b"
    assert _trunc_upper("\U0010ffff" * 100) is None
    assert _trunc_upper("b" + "퟿" * 100)[-1] == ""


def test_optimize_preserves_sorted_bands(registered, tmp_path):
    """Round 7: compaction on a table with a declared write order re-sorts
    each rewrite group instead of plain-coalescing, so the compacted files
    keep DISJOINT sort-column bands — otherwise table aging silently
    undoes the layout the write order bought."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        optimize,
        set_sort_order,
    )

    spark = registered
    t = str(tmp_path / "t")
    commit_append(spark.range(0).select(F.col("id").alias("k")), t)
    set_sort_order(spark, t, ["k"])
    # many small appends: each is internally sorted, but bands OVERLAP
    # across appends (every batch spans the full key range)
    for i in range(4):
        batch = (
            spark.range(2000)
            .select(((F.col("id") * 7919 + i) % 2000).alias("k"))
        )
        commit_append(batch, t)
    res = optimize(spark, t, small_file_mb=8.0, target_file_mb=0.004)
    assert res["rewritten"] >= 4
    bands = sorted(
        tuple(b["k"]) for b in _stats(t).values() if b.get("k")
    )
    assert len(bands) > 1
    assert all(
        bands[i][1] < bands[i + 1][0] for i in range(len(bands) - 1)
    ), bands
    # content unchanged
    from web_analytics_on_aws_spark.sources.snapshots import read_snapshot

    assert read_snapshot(spark, t).count() == 8000
