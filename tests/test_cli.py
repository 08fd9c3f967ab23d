"""CLI surface (__main__.py): list and the snapshot subcommands run
against a real table through main(argv)."""

from web_analytics_on_aws_spark.__main__ import main


def test_cli_list_runs(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q1_pricing_summary  [oracle]" in out
    assert "pipeline_bpe_encode_sample  [oracle]" in out
    assert "ann_ivfpq_topk_raw  [rows-only]" in out


def test_cli_snapshot_subcommands(spark, tmp_path, capsys):
    from web_analytics_on_aws_spark.sources.snapshots import commit_append

    t = str(tmp_path / "t")
    commit_append(spark.range(0, 20).selectExpr("id", "id * 2 AS v"), t)
    commit_append(spark.range(20, 30).selectExpr("id", "id * 2 AS v"), t)

    assert main([ "snapshot", t, "history"]) == 0
    hist = capsys.readouterr().out
    assert "append" in hist

    assert main(["snapshot", t, "changes", "1"]) == 0
    ch = capsys.readouterr().out
    assert "insert" in ch

    assert main(["snapshot", t, "bloom", "id"]) == 0
    assert "'id'" in capsys.readouterr().out

    assert main(["snapshot", t, "vacuum", "1"]) == 0
    assert "deleted_files" in capsys.readouterr().out

    assert main(["snapshot", t, "bogus"]) == 2
    assert main(["snapshot"]) == 2


def test_cli_snapshot_missing_arg3_is_usage_error(spark, tmp_path, capsys):
    """ADVICE r2: omitting the required third argument must print usage and
    exit 2, not crash with an AttributeError traceback."""
    from web_analytics_on_aws_spark.sources.snapshots import commit_append

    t = str(tmp_path / "t")
    commit_append(spark.range(3), t)
    assert main(["snapshot", t, "changes"]) == 2
    assert main(["snapshot", t, "zorder"]) == 2
    assert main(["snapshot", t, "bloom"]) == 2
    assert main(["snapshot", t, "changes", "notanint"]) == 2
    err = capsys.readouterr().err
    assert "usage" in err and "integer" in err


def test_cli_snapshot_mor_subcommands(spark, tmp_path, capsys):
    """delete_files metadata view + restore + compact-deletes through the
    CLI surface."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        commit_append,
        delete_where_mor,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(10).coalesce(1), t)
    delete_where_mor(spark, t, "id < 4")
    assert main(["snapshot", t, "delete_files"]) == 0
    out = capsys.readouterr().out
    assert "position" in out
    assert main(["snapshot", t, "compact-deletes"]) == 0
    assert read_snapshot(spark, t).count() == 6
    assert main(["snapshot", t, "restore", "1"]) == 0
    assert read_snapshot(spark, t).count() == 10
    assert main(["snapshot", t, "restore"]) == 2  # missing version
    assert main(["snapshot", t, "restore", "xx"]) == 2


def test_cli_out_of_range_versions_are_usage_errors(spark, tmp_path, capsys):
    """ADVICE r3: an integer-but-out-of-range version (restore 99,
    changes -3) must exit 2 with a message, not dump a FileNotFoundError
    traceback; missing table path likewise."""
    from web_analytics_on_aws_spark.sources.snapshots import commit_append

    t = str(tmp_path / "t")
    commit_append(spark.range(3), t)
    assert main(["snapshot", t, "restore", "99"]) == 2
    assert main(["snapshot", t, "changes", "-3"]) == 2
    assert main(["snapshot", str(tmp_path / "nope"), "history"]) == 2
    err = capsys.readouterr().err
    assert "snapshot restore" in err and "snapshot changes" in err


def test_cli_ref_verbs(spark, tmp_path, capsys):
    """VERDICT r4 #6: the refs surface is CLI-reachable — tag, branch,
    fast-forward, read-ref, wap publish/discard, all exit-coded."""
    from web_analytics_on_aws_spark.sources.refs import commit_append_wap
    from web_analytics_on_aws_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(spark.range(5).selectExpr("id", "id * 2 AS v"), t)
    assert main(["snapshot", t, "tag", "rel-1"]) == 0
    assert "'version': 1" in capsys.readouterr().out
    assert main(["snapshot", t, "tag", "rel-1"]) == 2  # immutable
    assert main(["snapshot", t, "branch", "exp"]) == 0
    bp = capsys.readouterr().out
    assert "exp" in bp
    # advance the branch, fast-forward main onto it
    from web_analytics_on_aws_spark.sources.refs import branch_path

    commit_append(
        spark.range(5, 8).selectExpr("id", "id * 2 AS v"),
        branch_path(t, "exp"),
    )
    assert main(["snapshot", t, "read-ref", "exp"]) == 0
    assert main(["snapshot", t, "fast-forward", "exp"]) == 0
    assert read_snapshot(spark, t).count() == 8
    # second fast-forward: main has advanced past the base → conflict = 2
    assert main(["snapshot", t, "fast-forward", "exp"]) == 2
    assert "diverged" in capsys.readouterr().err
    assert main(["snapshot", t, "drop-branch", "exp"]) == 0
    assert main(["snapshot", t, "read-ref", "exp"]) == 2  # gone
    # WAP: stage via API, publish and discard via CLI
    commit_append_wap(
        spark.range(8, 9).selectExpr("id", "id * 2 AS v"), t, "w1"
    )
    assert main(["snapshot", t, "wap-publish", "w1"]) == 0
    assert read_snapshot(spark, t).count() == 9
    assert main(["snapshot", t, "wap-discard", "w1"]) == 2  # already gone
    assert main(["snapshot", t, "tag"]) == 2  # missing name → usage
    assert "usage" in capsys.readouterr().err


def test_cli_clone_and_upgrade_verbs(spark, tmp_path, capsys):
    """Round 10: shallow clone and marker release are CLI-reachable —
    both metadata-only (no Spark session), exit-coded."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    c = str(tmp_path / "c")
    commit_append(spark.range(6).selectExpr("id", "id * 2 AS v"), t)
    assert main(["snapshot", t, "clone", c]) == 0
    assert "'base_version': 1" in capsys.readouterr().out
    assert read_snapshot(spark, c).count() == 6
    assert main(["snapshot", t, "clone", c]) == 2  # dst already exists
    assert main(["snapshot", t, "drop-clone", c]) == 0
    assert "'markers_removed': 1" in capsys.readouterr().out
    assert main(["snapshot", t, "clone"]) == 2  # missing dst = usage
