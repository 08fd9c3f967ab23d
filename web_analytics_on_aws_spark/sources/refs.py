"""Named refs over the snapshot format: tags, branches, shallow clones,
and write-audit-publish (WAP) staging.

The reference's Iceberg tables get these from AWS-managed Iceberg
(`web-analytics-iceberg/README.md` commits to Iceberg v2 semantics);
Iceberg's ref spec (tags + branches as named snapshot pointers, WAP via
`spark.wap.id` staged commits) and Delta's SHALLOW CLONE are the public
models. This module re-creates the mechanisms over the jar-free manifest
format in :mod:`snapshots`:

- **tag**: an immutable named pointer to a version
  (``refs/tag-<name>.json``). ``vacuum`` keeps tagged versions' manifests
  and data files alive regardless of the retention window — exactly
  Iceberg's tag-retention contract.
- **branch**: an isolated writable fork. Implemented as a ZERO-COPY clone
  of the head manifest into ``<table>/branches/<name>/`` — the branch
  references the parent's data files by path, new commits land in the
  branch's own ``data/`` dir, and every existing API (``commit_append``,
  ``delete_where_mor``, ``read_snapshot``, CDF…) works on the branch path
  unchanged. ``fast_forward`` publishes the branch head back onto main
  iff main has not advanced since the branch point (Iceberg's
  fast-forward requires the target to be an ancestor of the source).
- **shallow clone**: the same manifest-copy as a standalone table
  anywhere on disk (Delta ``CLONE ... SHALLOW``). Writes/DML on the clone
  never touch source files; ``vacuum`` on the clone only walks the
  clone's own ``data/`` dir. The one Delta-documented caveat is mirrored
  here: vacuuming the SOURCE can drop files an external clone still
  references (in-table branches are protected; external clones are not).
- **WAP**: ``commit_append_wap`` writes data files and stages a
  non-versioned manifest (``manifests/wap-<id>.json``) that main readers
  never see; ``read_wap`` exposes head+staged for audit queries;
  ``publish_wap`` CAS-publishes the staged files onto the CURRENT head
  (append-rebase, so main advancing between stage and publish is fine);
  ``discard_wap`` drops the stage and leaves the files to vacuum.

Scale: every operation here is metadata-only — manifests are KBs at
100 TB, no data file is ever copied or rewritten.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .snapshots import (
    BRANCHES_DIR,
    DATA_DIR,
    MANIFEST_DIR,
    REFS_DIR,
    CommitConflict,
    _manifest_deletes,
    _manifest_eq_deletes,
    _manifest_file_seq,
    _manifest_path,
    _publish,
    _read_manifest,
    _read_manifest_head,
    _versions,
    _write_data_files,
    check_constraints,
    current_version,
    read_snapshot,
    table_constraints,
)

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _check_name(name: str) -> str:
    if not _NAME.match(name):
        raise ValueError(
            f"invalid ref name {name!r}: alnum start, then [A-Za-z0-9._-], "
            "max 64 chars"
        )
    return name


def _tag_path(table: str, name: str) -> str:
    return os.path.join(table, REFS_DIR, f"tag-{name}.json")


def _wap_path(table: str, wap_id: str) -> str:
    return os.path.join(table, MANIFEST_DIR, f"wap-{wap_id}.json")


def branch_path(table: str, name: str) -> str:
    """Filesystem path of a branch — itself a full snapshot table: pass it
    to any snapshots API (commit_append, read_snapshot, merge_into, …)."""
    return os.path.join(table, BRANCHES_DIR, _check_name(name))


# ---------------------------------------------------------------- tags


def create_tag(table: str, name: str, version: int | None = None) -> int:
    """Pin ``version`` (default: head) under an immutable name. Returns the
    pinned version. Tagged versions survive ``vacuum`` (manifest AND data
    files), exactly like Iceberg tag retention."""
    _check_name(name)
    v = current_version(table) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(f"no snapshots at {table}")
    if not os.path.exists(_manifest_path(table, v)):
        raise FileNotFoundError(f"{table} has no snapshot v{v}")
    os.makedirs(os.path.join(table, REFS_DIR), exist_ok=True)
    body = {"name": name, "version": v, "created_at": time.time()}
    tmp = _tag_path(table, name) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(body, f)
    try:
        # atomic create-if-absent: tags are immutable, re-tagging refuses
        os.link(tmp, _tag_path(table, name))
    except FileExistsError:
        raise ValueError(f"tag {name!r} already exists on {table}") from None
    finally:
        os.unlink(tmp)
    return v


def drop_tag(table: str, name: str) -> None:
    try:
        os.remove(_tag_path(table, _check_name(name)))
    except FileNotFoundError:
        raise FileNotFoundError(f"no tag {name!r} on {table}") from None


def resolve_tag(table: str, name: str) -> int:
    try:
        with open(_tag_path(table, _check_name(name))) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        raise FileNotFoundError(f"no tag {name!r} on {table}") from None


def read_ref(spark: SparkSession, table: str, name: str) -> DataFrame:
    """Read the table at a named ref: tag → pinned version, branch →
    branch head (``VERSION AS OF 'name'`` surface)."""
    if os.path.exists(_tag_path(table, name)):
        return read_snapshot(spark, table, version=resolve_tag(table, name))
    bp = branch_path(table, name)
    if os.path.isdir(os.path.join(bp, MANIFEST_DIR)):
        return read_snapshot(spark, bp)
    raise FileNotFoundError(f"no ref {name!r} on {table}")


def list_refs(table: str) -> list[dict]:
    """All named refs: tags, branches (with head + base version), staged
    WAP ids. Driver-side metadata fold (KBs)."""
    out: list[dict] = []
    rdir = os.path.join(table, REFS_DIR)
    if os.path.isdir(rdir):
        for fn in sorted(os.listdir(rdir)):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(rdir, fn)) as f:
                    t = json.load(f)
                out.append(
                    {"kind": "tag", "name": t["name"],
                     "version": int(t["version"]), "base_version": None}
                )
            elif fn.startswith("clone-") and fn.endswith(".json"):
                with open(os.path.join(rdir, fn)) as f:
                    c = json.load(f)
                if not _versions(c["dst"]):
                    continue  # clone dropped — stale marker
                out.append(
                    {"kind": "clone", "name": c["dst"],
                     "version": current_version(c["dst"]),
                     "base_version": int(c.get("base_version") or 0) or None}
                )
    bdir = os.path.join(table, BRANCHES_DIR)
    if os.path.isdir(bdir):
        for name in sorted(os.listdir(bdir)):
            bp = os.path.join(bdir, name)
            meta = os.path.join(bp, "branch.json")
            if not os.path.exists(meta):
                continue
            with open(meta) as f:
                b = json.load(f)
            out.append(
                {"kind": "branch", "name": name,
                 "version": current_version(bp),
                 "base_version": int(b["base_version"])}
            )
    mdir = os.path.join(table, MANIFEST_DIR)
    if os.path.isdir(mdir):
        for fn in sorted(os.listdir(mdir)):
            if fn.startswith("wap-") and fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    w = json.load(f)
                out.append(
                    {"kind": "wap", "name": w["wap_id"], "version": None,
                     "base_version": int(w["base_version"])}
                )
    return out


# ------------------------------------------------- clones and branches


def _clone_manifest(src: str, dst: str, op: str) -> int:
    """Publish the src head's exact state as ``dst``'s FIRST manifest —
    file paths are referenced, never copied. Carries MOR sidecars,
    per-file sequences, and CHECK constraints. Per-app txn stamps are NOT
    carried: the clone is a new table with its own exactly-once ledger.

    The fork's first manifest is published AT the source's version number
    (not v1): carried eq-delete sidecars keep their original sequence, so
    a fork restarting at v1 would let a carried delete (seq = src head)
    wrongly reach the fork's OWN future appends — their sequences would
    restart BELOW the sidecar's (the v2 rule deletes lower-seq files).
    Forking at the source version keeps every sequence relation intact.

    Sources whose member paths are absolute (VERDICT r8 #4) fork
    ZERO-COPY: the head re-lists the source's immutable segment files by
    absolute path — O(segments) metadata regardless of file count, no
    per-file map materialized, no segment written. The source's
    ``vacuum`` protects segments any branch or registered clone still
    references (``_ref_protected``)."""
    cur = current_version(src)
    if cur is None:
        raise FileNotFoundError(f"no snapshots at {src}")
    if current_version(dst) is not None:
        raise ValueError(f"{dst} already has snapshots")
    head = _read_manifest_head(src, cur)
    summaries = head.get("groups", []) + head.get("segments", [])
    if summaries and all(
        isinstance(s.get("lo"), str) and os.path.isabs(s["lo"])
        for s in summaries
    ):
        # zero-copy fork: member paths are absolute (the summaries' path
        # ranges prove it without opening a segment or group), so the
        # source's manifest files are valid from anywhere — re-list them
        # in place. Foreign GROUP references resolve their members'
        # relative segment paths against the source table at read time
        # (snapshots._read_group), so the two-level layer forks by
        # reference too.
        from .snapshots import _publish_raw, _segment_abspath

        body = {
            "version": cur,
            "operation": op,
            "committed_at": time.time(),
            "format": head.get("format", 2),
            "segments": [
                dict(s)
                | {"path": os.path.abspath(_segment_abspath(src, s["path"]))}
                for s in head.get("segments", [])
            ],
        }
        if head.get("groups"):
            body["groups"] = [
                dict(g)
                | {"path": os.path.abspath(_segment_abspath(src, g["path"]))}
                for g in head["groups"]
            ]
        if _manifest_deletes(head):
            body["delete_files"] = [
                os.path.abspath(f) for f in _manifest_deletes(head)
            ]
        if _manifest_eq_deletes(head):
            body["eq_deletes"] = [
                e | {"path": os.path.abspath(e["path"])}
                for e in _manifest_eq_deletes(head)
            ]
        for k in ("schema", "partitioning", "sort_order", "constraints"):
            if head.get(k):
                body[k] = head[k]
        _publish_raw(dst, cur, body)
        return cur
    m = _read_manifest(src, cur)
    seq = _manifest_file_seq(m)
    fp = m.get("file_partitions", {})
    fs = m.get("file_stats", {})
    _publish(
        dst, cur, [os.path.abspath(f) for f in m["files"]], op,
        constraints=m.get("constraints", {}),
        delete_files=[os.path.abspath(f) for f in _manifest_deletes(m)],
        eq_deletes=[
            e | {"path": os.path.abspath(e["path"])}
            for e in _manifest_eq_deletes(m)
        ],
        file_seq={os.path.abspath(f): seq[f] for f in m["files"]},
        # column mapping AND the partition spec ride the clone: the fork's
        # first manifest has no predecessor to carry them from, so pass
        # the src head's blocks explicitly (tuples re-keyed to the
        # absolute paths published above — ADVICE r5: a branch of a
        # partitioned table must keep its spec, or branch appends go
        # unpartitioned and tuple pruning is lost)
        schema=m.get("schema"),
        partitioning=m.get("partitioning"),
        file_partitions={
            os.path.abspath(f): fp[f] for f in m["files"] if f in fp
        },
        file_stats={
            os.path.abspath(f): fs[f] for f in m["files"] if f in fs
        },
        sort_order=m.get("sort_order"),
    )
    return cur


def clone_table(src: str, dst: str, register: bool = True) -> int:
    """Delta-style SHALLOW CLONE: a new independent table whose first
    manifest references the src head's files (and, on sharded sources,
    its immutable manifest segments) in place. Returns the src version
    cloned. O(manifest) regardless of table size — cloning a 100 TB table
    writes a few KB. Writes/DML/vacuum on the clone never touch src data
    (new files land under the clone's own ``data/``; the clone's vacuum
    only walks that dir and its own segdir).

    ``register`` (default) leaves a back-reference marker under the
    SOURCE's refs/, so the source's ``vacuum`` protects files and
    segments the clone still references — stronger than Delta's
    documented external-clone caveat. A marker whose clone directory no
    longer holds manifests is ignored (dropping a clone = deleting its
    directory). On a read-only source the marker is skipped best-effort
    and Delta's caveat applies: vacuuming the source may drop files the
    unregistered clone still references."""
    base = _clone_manifest(src, dst, "clone")
    if register:
        try:
            os.makedirs(os.path.join(src, REFS_DIR), exist_ok=True)
            marker = os.path.join(
                src, REFS_DIR, f"clone-{uuid.uuid4().hex[:12]}.json"
            )
            with open(marker, "w") as f:
                json.dump(
                    {
                        "dst": os.path.abspath(dst),
                        "base_version": base,
                        "created_at": time.time(),
                    },
                    f,
                )
        except OSError:
            pass  # read-only source — unregistered-clone caveat applies
    return base


def _live_forks_of(table: str) -> list[tuple[str, str]]:
    """(kind, path) of every LIVE fork recorded on ``table``: registered
    clone markers whose destination still holds manifests, and branch
    dirs with manifests. Metadata listing only."""
    out: list[tuple[str, str]] = []
    rdir = os.path.join(table, REFS_DIR)
    if os.path.isdir(rdir):
        for fn in os.listdir(rdir):
            if fn.startswith("clone-") and fn.endswith(".json"):
                with open(os.path.join(rdir, fn)) as f:
                    d = json.load(f)["dst"]
                if os.path.isdir(os.path.join(d, MANIFEST_DIR)):
                    out.append(("clone", d))
    bdir = os.path.join(table, BRANCHES_DIR)
    if os.path.isdir(bdir):
        for name in os.listdir(bdir):
            bp = os.path.join(bdir, name)
            if os.path.isdir(os.path.join(bp, MANIFEST_DIR)):
                out.append(("branch", bp))
    return out


def drop_clone(src: str, dst: str, delete_table: bool = False) -> int:
    """Explicitly release a registered clone: remove the back-reference
    marker(s) under ``src``'s refs/ pointing at ``dst``, so the source's
    next vacuum stops protecting the clone's references. Returns markers
    removed.

    Descendant safety (VERDICT r10 #2 / ADVICE r10): dropping the MIDDLE
    table of a chain src → dst → grandchild must not strand the
    grandchild — its zero-copy head still references ``src``'s files and
    segments by absolute path, but after the marker is gone ``src``'s
    transitive fork walk can no longer reach it THROUGH ``dst``. So
    before removing the marker, every live clone registered on ``dst``
    is PROMOTED: re-registered as a direct marker on ``src`` (carrying
    the dropped marker's ``base_version`` pin — anything the grandchild
    references inside ``src``'s tree entered through that version, so
    the pin is a safe over-approximation). Branches live UNDER ``dst``'s
    directory and belong to its subtree: they stay protected exactly as
    long as ``dst`` itself is live, which dropping the marker does not
    change.

    With ``delete_table`` the clone directory itself is removed too (the
    implicit drop — deleting the dir — still works; stale markers are
    then GC'd by the source's vacuum). Deletion REFUSES when ``dst`` has
    live forks of its own: a shallow grandchild references ``dst``-local
    data files in place and a branch physically lives inside ``dst``, so
    rmtree would destroy both — drop or delete the descendants first."""
    removed = 0
    base_pin: int | None = None
    target = os.path.abspath(dst)
    if delete_table:
        forks = _live_forks_of(dst)
        if forks:
            raise ValueError(
                f"refusing to delete clone {dst!r}: it has live forks "
                f"{forks} whose data lives in (or under) its directory — "
                "drop_clone/drop_branch them first"
            )
    rdir = os.path.join(src, REFS_DIR)
    if os.path.isdir(rdir):
        for fn in os.listdir(rdir):
            if not (fn.startswith("clone-") and fn.endswith(".json")):
                continue
            mp = os.path.join(rdir, fn)
            with open(mp) as f:
                c = json.load(f)
            if os.path.abspath(c["dst"]) == target:
                b = c.get("base_version")
                if b is not None:
                    base_pin = b if base_pin is None else min(base_pin, b)
                os.remove(mp)
                removed += 1
    if removed:
        # promote dst's own live clones onto src so the transitive walk
        # (and their protection) survives losing the intermediate hop;
        # their descendants stay reachable through THEIR refs in turn
        for kind, gdst in _live_forks_of(dst):
            if kind != "clone":
                continue
            try:
                os.makedirs(rdir, exist_ok=True)
                marker = os.path.join(
                    rdir, f"clone-{uuid.uuid4().hex[:12]}.json"
                )
                promoted = {
                    "dst": os.path.abspath(gdst),
                    "created_at": time.time(),
                    "promoted_from": target,
                }
                # legacy/externally-written markers may carry no pin:
                # omit the key rather than write a JSON null that a
                # strict reader would trip over
                if base_pin is not None:
                    promoted["base_version"] = base_pin
                with open(marker, "w") as f:
                    json.dump(promoted, f)
            except OSError:
                pass  # read-only source — unregistered-clone caveat
    if delete_table and os.path.isdir(dst):
        import shutil

        shutil.rmtree(dst)
    return removed


def create_branch(table: str, name: str) -> str:
    """Fork the head into a writable branch (audit/backfill/experiment
    isolation — the Iceberg branch workflow). Zero-copy; returns the
    branch path, usable with every snapshots API. The parent's ``vacuum``
    protects files any branch still references."""
    bp = branch_path(table, name)
    if os.path.isdir(os.path.join(bp, MANIFEST_DIR)):
        raise ValueError(f"branch {name!r} already exists on {table}")
    base = _clone_manifest(table, bp, "branch")
    with open(os.path.join(bp, "branch.json"), "w") as f:
        json.dump(
            {"name": name, "base_version": base, "created_at": time.time()}, f
        )
    return bp


def drop_branch(table: str, name: str) -> None:
    import shutil

    bp = branch_path(table, name)
    if not os.path.isdir(bp):
        raise FileNotFoundError(f"no branch {name!r} on {table}")
    # branch-local data files die with the branch; parent files are only
    # referenced by path and stay untouched
    shutil.rmtree(bp)


def fast_forward(table: str, name: str) -> int:
    """Publish the branch head's exact state onto main — Iceberg's
    ``fast_forward``: requires main to still be at the branch's base
    version (the target must be an ancestor of the source); otherwise
    raises :class:`CommitConflict` and the caller re-branches/rebases.
    Returns the new main version. Metadata-only: the branch's data files
    (parent-referenced AND branch-local) are adopted by path."""
    bp = branch_path(table, name)
    meta = os.path.join(bp, "branch.json")
    if not os.path.exists(meta):
        raise FileNotFoundError(f"no branch {name!r} on {table}")
    with open(meta) as f:
        base = int(json.load(f)["base_version"])
    cur = current_version(table)
    if cur != base:
        raise CommitConflict(
            f"main at v{cur} has diverged from branch {name!r} base "
            f"v{base}; re-branch from the new head and re-apply"
        )
    bh = _read_manifest(bp, current_version(bp))
    seq = _manifest_file_seq(bh)

    # Adopt branch-local files (data, position sidecars, eq sidecars) into
    # the parent's data dir via hardlink — metadata-only on one filesystem,
    # and it makes `drop_branch` after fast-forward safe: main never
    # references a path inside the branch dir.
    bdata = os.path.abspath(os.path.join(bp, DATA_DIR)) + os.sep
    adopt_dir = os.path.join(table, DATA_DIR, f"ff-{uuid.uuid4().hex}")
    moved: dict[str, str] = {}

    def _adopt(path: str) -> str:
        ap = os.path.abspath(path)
        if not ap.startswith(bdata):
            return path
        if ap not in moved:
            os.makedirs(adopt_dir, exist_ok=True)
            # a partitioned branch write reuses one task uuid across its
            # __part_* leaf dirs, so basenames alone collide — prefix a
            # counter to keep the flattened adoption dir collision-proof
            dst = os.path.join(
                adopt_dir, f"{len(moved)}-{os.path.basename(ap)}"
            )
            os.link(ap, dst)
            moved[ap] = os.path.abspath(dst)
        return moved[ap]

    files = [_adopt(f) for f in bh["files"]]
    bfp = bh.get("file_partitions", {})
    bfs = bh.get("file_stats", {})
    _publish(
        table, cur + 1, files, "fast_forward",
        constraints=bh.get("constraints", {}),
        delete_files=[_adopt(f) for f in _manifest_deletes(bh)],
        eq_deletes=[
            e | {"path": _adopt(e["path"])} for e in _manifest_eq_deletes(bh)
        ],
        file_seq={_adopt(f): seq[f] for f in bh["files"]},
        # the branch may have evolved its schema OR its partition spec (or
        # the branch predates a main-side evolution that never happened —
        # base==cur guarantees main hasn't moved): adopt the branch head's
        # blocks verbatim; None explicitly clears. Partition tuples re-key
        # to the adopted paths so pruning survives the fast-forward
        # (ADVICE r5).
        schema=bh.get("schema"),
        partitioning=bh.get("partitioning"),
        file_partitions={
            _adopt(f): bfp[f] for f in bh["files"] if f in bfp
        },
        file_stats={
            _adopt(f): bfs[f] for f in bh["files"] if f in bfs
        },
        sort_order=bh.get("sort_order"),
    )
    return cur + 1


# ------------------------------------------------ write-audit-publish


def commit_append_wap(df: DataFrame, table: str, wap_id: str) -> str:
    """Stage an append WITHOUT making it visible (Iceberg's
    ``spark.wap.id`` staged-commit pattern): data files are written and
    durable, the staged manifest records them against the current base,
    and main readers see nothing until :func:`publish_wap`. Returns the
    wap_id. Staged files are vacuum-protected until published or
    discarded."""
    _check_name(wap_id)
    if current_version(table) is None:
        raise FileNotFoundError(
            f"no snapshots at {table}; WAP stages onto an existing table"
        )
    if os.path.exists(_wap_path(table, wap_id)):
        raise ValueError(f"wap id {wap_id!r} already staged on {table}")
    # column-mapped tables store physical names (sources/evolution.py) —
    # translate the staged payload exactly like commit_append
    from web_analytics_on_aws_spark.sources.snapshots import _read_manifest

    m_head = _read_manifest(table, current_version(table))
    sch = m_head.get("schema")
    if sch is not None:
        from web_analytics_on_aws_spark.sources.evolution import to_physical

        df = to_physical(df, sch, "commit_append_wap")
    # hidden partitioning: a staged append routes through the current spec
    # exactly like commit_append — otherwise publishing a WAP batch would
    # silently leave untupled (unprunable) files in a partitioned table
    pblock = m_head.get("partitioning") or {}
    cur_spec = int(pblock.get("current") or 0)
    fparts: dict[str, dict] = {}
    # the table's declared write sort order applies to staged appends
    # exactly like commit_append's (ADVICE r6): WAP-published files must
    # carry the same disjoint-band column stats as directly-committed ones
    sort_cols = (m_head.get("sort_order") or {}).get("cols")
    if cur_spec:
        from web_analytics_on_aws_spark.sources.partitioning import (
            write_partitioned_files,
        )

        new_files, fparts = write_partitioned_files(
            df, table, cur_spec, pblock["specs"][str(cur_spec)],
            sort_cols=sort_cols,
        )
    else:
        from web_analytics_on_aws_spark.sources.snapshots import (
            _sorted_for_write,
        )

        new_files = _write_data_files(_sorted_for_write(df, m_head), table)
    # CHECK constraints gate the stage exactly like commit_append gates
    # the publish: validate the WRITTEN BYTES so a staged append can never
    # carry constraint-violating rows toward publish_wap. The validated
    # set rides the stage manifest so publish can detect drift.
    from web_analytics_on_aws_spark.sources.snapshots import (
        _read_written,
        collect_file_stats,
    )

    new_stats = collect_file_stats(new_files, df.sparkSession)
    cons = table_constraints(table)
    if cons:
        check_constraints(
            _read_written(df.sparkSession, new_files, new_stats, sch), cons
        )

    body = {
        "wap_id": wap_id,
        "base_version": current_version(table),
        "new_files": sorted(new_files),
        "staged_at": time.time(),
        "validated_constraints": cons,
        # manifest column stats + partition tuples collected at STAGE time
        # (the files are final); publish just adopts them
        "file_stats": new_stats,
        "file_partitions": fparts,
    }
    tmp = _wap_path(table, wap_id) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(body, f)
    try:
        os.link(tmp, _wap_path(table, wap_id))
    except FileExistsError:
        raise ValueError(
            f"wap id {wap_id!r} staged concurrently on {table}"
        ) from None
    finally:
        os.unlink(tmp)
    return wap_id


def _read_wap_manifest(table: str, wap_id: str) -> dict:
    try:
        with open(_wap_path(table, wap_id)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no staged wap {wap_id!r} on {table} (unknown, published, "
            "or discarded)"
        ) from None


def read_wap(spark: SparkSession, table: str, wap_id: str) -> DataFrame:
    """The audit view: current head PLUS the staged files — what the table
    WOULD contain after publish. Head-side MOR sidecars apply as usual;
    staged files are new and outside any existing delete's scope."""
    from web_analytics_on_aws_spark.sources.snapshots import (
        _logical,
        _read_manifest,
        _scan_files,
    )

    w = _read_wap_manifest(table, wap_id)
    head = read_snapshot(spark, table)
    sch = _read_manifest(table, current_version(table)).get("schema")
    staged = _logical(_scan_files(spark, w["new_files"], sch, w), sch)
    return head.unionByName(staged, allowMissingColumns=True)


def publish_wap(
    table: str, wap_id: str, spark: SparkSession | None = None
) -> int:
    """Make a staged WAP append visible: CAS-publish head-files +
    staged-files as the next version. Rebases onto the CURRENT head
    (appends are position-independent — same retry contract as
    ``commit_append``), so main advancing between stage and publish is
    fine. Removes the stage; a second publish of the same id raises.

    CHECK constraints: the stage already validated against the constraint
    set at stage time. If the head's constraints have CHANGED since, the
    staged bytes were never validated against them — re-validate here
    (needs ``spark``) or refuse, never silently publish."""
    w = _read_wap_manifest(table, wap_id)
    cur = current_version(table)
    validated = w.get("validated_constraints", {})
    for _ in range(16):
        prev_m = _read_manifest(table, cur)
        head_cons = prev_m.get("constraints", {})
        if head_cons and head_cons != validated:
            if spark is None:
                raise ValueError(
                    f"constraints on {table} changed since wap {wap_id!r} "
                    "was staged; pass spark= to re-validate the staged "
                    "files before publish"
                )
            from web_analytics_on_aws_spark.sources.snapshots import (
                _read_written,
            )

            check_constraints(
                _read_written(
                    spark, w["new_files"], w.get("file_stats") or {},
                    prev_m.get("schema"),
                ),
                head_cons,
            )
            validated = head_cons
        version = cur + 1
        try:
            _publish(
                table, version, prev_m["files"] + w["new_files"],
                "publish_wap",
                delete_files=_manifest_deletes(prev_m),
                eq_deletes=_manifest_eq_deletes(prev_m),
                file_stats=w.get("file_stats"),
                file_partitions=w.get("file_partitions"),
            )
            os.remove(_wap_path(table, wap_id))
            return version
        except CommitConflict:
            cur = current_version(table)
    raise CommitConflict(f"publish_wap on {table} lost 16 consecutive races")


def discard_wap(table: str, wap_id: str) -> None:
    """Drop a staged append (audit failed). The staged data files become
    unreferenced and the next ``vacuum`` collects them."""
    _read_wap_manifest(table, wap_id)  # raise the precise error if absent
    os.remove(_wap_path(table, wap_id))
