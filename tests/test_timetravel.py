"""Snapshot history / time travel (timetravel.py): version pointer
commits, timestamp lookup, metadata-only restore, vacuum refcounting,
transaction-COMMIT versioning, and store-assignment cast-back.

Reference basis: the reference delegates DML to Redshift
(execute_sql.py:77), which has no time travel; this layer closes the
"time travel needs Delta/Iceberg" residue tracked since the r10
verdict with the same mechanism those formats use — immutable
versioned data plus an atomic pointer swap (timetravel.py docstring).
"""

from __future__ import annotations

import os
import time

import pytest

from amazonredshift_blueprints_spark import timetravel as tt
from amazonredshift_blueprints_spark.ingest import _clean_stale_location
from amazonredshift_blueprints_spark.sqlrun import execute_sql


def _fresh_history_table(spark, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    tt.remove_history(spark, name)
    _clean_stale_location(spark, name, None)
    spark.sql(f"CREATE TABLE {name} (k INT, amt DECIMAL(12,2)) USING parquet")
    spark.sql(
        f"INSERT INTO {name} VALUES "
        "(1, 10.00), (2, 20.00), (3, 30.00), (4, 40.00), (5, 50.00)"
    )


def test_dml_commits_versions_and_snapshots_stay_readable(spark):
    _fresh_history_table(spark, "t_tt_basic")
    assert tt.enable_history(spark, "t_tt_basic") == 0
    execute_sql(spark, "DELETE FROM t_tt_basic WHERE k % 2 = 0")  # v1
    execute_sql(
        spark, "UPDATE t_tt_basic SET amt = amt + 1 WHERE k = 1"
    )  # v2
    assert tt.table_at(spark, "t_tt_basic", version=0).count() == 5
    assert tt.table_at(spark, "t_tt_basic", version=1).count() == 3
    v2 = {
        r["k"]: float(r["amt"])
        for r in tt.table_at(spark, "t_tt_basic", version=2).collect()
    }
    assert v2 == {1: 11.0, 3: 30.0, 5: 50.0}
    # the live table is the latest version
    live = {r["k"]: float(r["amt"]) for r in spark.table("t_tt_basic").collect()}
    assert live == v2
    ops = [r["op"] for r in tt.history(spark, "t_tt_basic").collect()]
    assert ops == ["enable_history", "delete", "update"]


def test_timestamp_travel_maps_to_nearest_boundary(spark):
    _fresh_history_table(spark, "t_tt_ts")
    tt.enable_history(spark, "t_tt_ts")
    between = time.time()
    time.sleep(0.01)
    execute_sql(spark, "DELETE FROM t_tt_ts WHERE k <= 3")  # v1
    assert tt.table_at(spark, "t_tt_ts", timestamp=between).count() == 5
    assert tt.table_at(spark, "t_tt_ts", timestamp=time.time()).count() == 2
    with pytest.raises(ValueError, match="at or before"):
        tt.table_at(spark, "t_tt_ts", timestamp=between - 1e6)
    with pytest.raises(ValueError, match="exactly one"):
        tt.table_at(spark, "t_tt_ts", version=0, timestamp=between)


def test_restore_is_metadata_only_and_logged(spark):
    _fresh_history_table(spark, "t_tt_restore")
    tt.enable_history(spark, "t_tt_restore")
    execute_sql(spark, "DELETE FROM t_tt_restore WHERE k > 2")  # v1
    root = tt._table_root(spark, "t_tt_restore")
    dirs_before = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert tt.restore_table(spark, "t_tt_restore", 0) == 2
    # metadata-only: no new version directory was written
    dirs_after = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert dirs_after == dirs_before
    assert spark.table("t_tt_restore").count() == 5
    log = tt._read_log(root)
    assert log[-1]["op"] == "restore v0"
    assert log[-1]["location"] == log[0]["location"]


def test_vacuum_refcounts_restored_locations(spark):
    _fresh_history_table(spark, "t_tt_vac")
    tt.enable_history(spark, "t_tt_vac")  # v0
    execute_sql(spark, "DELETE FROM t_tt_vac WHERE k = 1")  # v1
    execute_sql(spark, "DELETE FROM t_tt_vac WHERE k = 2")  # v2
    tt.restore_table(spark, "t_tt_vac", 1)  # v3 -> shares v1's dir
    root = tt._table_root(spark, "t_tt_vac")
    v0_dir, v1_dir = (tt._read_log(root)[i]["location"] for i in (0, 1))
    dropped = tt.vacuum_history(spark, "t_tt_vac", keep_last=2)  # keep v2,v3
    assert dropped == [0, 1]
    # v0's directory is unreferenced -> deleted; v1's is v3's data -> kept
    assert not os.path.isdir(v0_dir)
    assert os.path.isdir(v1_dir)
    assert tt.table_at(spark, "t_tt_vac", version=3).count() == 4
    with pytest.raises(ValueError, match="vacuumed, or never"):
        tt.table_at(spark, "t_tt_vac", version=0)
    assert spark.table("t_tt_vac").count() == 4


def test_vacuum_age_based_retention(spark):
    """keep_hours (r16, Delta/Iceberg-style retention window): entries
    younger than the window survive even beyond keep_last; the kept set
    resolves as a log SUFFIX anchored at the oldest retained entry; the
    tip is always retained; as_of pins the clock for determinism."""
    _fresh_history_table(spark, "t_tt_age")
    tt.enable_history(spark, "t_tt_age")  # v0
    execute_sql(spark, "DELETE FROM t_tt_age WHERE k = 1")  # v1
    execute_sql(spark, "DELETE FROM t_tt_age WHERE k = 2")  # v2
    execute_sql(spark, "DELETE FROM t_tt_age WHERE k = 3")  # v3
    root = tt._table_root(spark, "t_tt_age")
    ts = [e["committed_at"] for e in tt._read_log(root)]
    # window opens just before v1: keep_last=1 alone would drop v1/v2,
    # but the age rule retains everything from v1 on
    dropped = tt.vacuum_history(
        spark, "t_tt_age", keep_last=1,
        keep_hours=(ts[3] - ts[1]) / 3600.0 + 1e-9, as_of=ts[3],
    )
    assert dropped == [0]
    assert [e["version"] for e in tt._read_log(root)] == [1, 2, 3]
    assert tt.table_at(spark, "t_tt_age", version=1).count() == 4
    # a zero-width window keeps only the tip under keep_last=1
    dropped = tt.vacuum_history(
        spark, "t_tt_age", keep_last=1, keep_hours=0.0,
        as_of=ts[3] + 3600.0,
    )
    assert dropped == [1, 2]
    assert [e["version"] for e in tt._read_log(root)] == [3]
    assert spark.table("t_tt_age").count() == 2
    with pytest.raises(ValueError, match="keep_hours"):
        tt.vacuum_history(spark, "t_tt_age", keep_hours=-1.0)


def test_transaction_commit_is_one_version(spark):
    """A multi-statement transaction on a history table publishes as a
    SINGLE commit-log entry (transactions.py routes COMMIT through
    commit_version instead of INSERT OVERWRITE, which would rewrite
    the live snapshot directory in place)."""
    _fresh_history_table(spark, "t_tt_txn")
    tt.enable_history(spark, "t_tt_txn")
    execute_sql(spark, "BEGIN")
    execute_sql(spark, "DELETE FROM t_tt_txn WHERE k = 1")
    execute_sql(spark, "UPDATE t_tt_txn SET amt = amt * 2 WHERE k = 2")
    execute_sql(spark, "COMMIT")
    log = tt.history(spark, "t_tt_txn").collect()
    assert [r["op"] for r in log] == ["enable_history", "txn commit"]
    assert spark.table("t_tt_txn").count() == 4
    assert tt.table_at(spark, "t_tt_txn", version=0).count() == 5
    # and a rolled-back transaction leaves no version behind
    execute_sql(spark, "BEGIN")
    execute_sql(spark, "DELETE FROM t_tt_txn WHERE k = 3")
    execute_sql(spark, "ROLLBACK")
    assert tt.history(spark, "t_tt_txn").count() == 2
    assert spark.table("t_tt_txn").count() == 4


def test_widened_update_casts_back_to_catalog_schema(spark):
    """UPDATE amt = amt * 3 widens decimal(12,2); the version files
    must carry the CATALOG schema (INSERT OVERWRITE's store-assignment
    rule, replicated in commit_version) so snapshot reads and live
    reads agree bit-for-bit."""
    _fresh_history_table(spark, "t_tt_cast")
    tt.enable_history(spark, "t_tt_cast")
    execute_sql(spark, "UPDATE t_tt_cast SET amt = amt * 3 WHERE k = 5")
    snap = tt.table_at(spark, "t_tt_cast", version=1)
    assert dict(snap.dtypes)["amt"] == "decimal(12,2)"
    assert dict(spark.table("t_tt_cast").dtypes)["amt"] == "decimal(12,2)"
    assert (
        float(snap.filter("k = 5").collect()[0]["amt"]) == 150.0
    )


def test_enable_guards(spark):
    _fresh_history_table(spark, "t_tt_guard")
    tt.enable_history(spark, "t_tt_guard")
    with pytest.raises(ValueError, match="already enabled"):
        tt.enable_history(spark, "t_tt_guard")
    with pytest.raises(ValueError, match="no catalog table"):
        tt.enable_history(spark, "t_tt_never_created")
    with pytest.raises(ValueError, match="keep_last"):
        tt.vacuum_history(spark, "t_tt_guard", keep_last=0)


def test_insert_statements_commit_versions(spark):
    """INSERT INTO / INSERT OVERWRITE on a history table publish as
    versioned commits via sqlrun's interception — a native insert
    would mutate the live version directory in place, silently
    rewriting the snapshot the log's tip points at."""
    _fresh_history_table(spark, "t_tt_ins")
    tt.enable_history(spark, "t_tt_ins")
    execute_sql(
        spark, "INSERT INTO t_tt_ins VALUES (6, 60.00), (7, 70.00)"
    )  # v1
    # self-referential insert keeps Spark's own semantics
    execute_sql(
        spark,
        "INSERT INTO t_tt_ins SELECT k + 100, amt FROM t_tt_ins WHERE k = 6",
    )  # v2
    execute_sql(
        spark, "INSERT OVERWRITE t_tt_ins VALUES (9, 90.00)"
    )  # v3
    ops = [r["op"] for r in tt.history(spark, "t_tt_ins").collect()]
    assert ops == [
        "enable_history", "insert", "insert", "insert overwrite"
    ]
    assert tt.table_at(spark, "t_tt_ins", version=0).count() == 5
    assert tt.table_at(spark, "t_tt_ins", version=1).count() == 7
    v2 = tt.table_at(spark, "t_tt_ins", version=2)
    assert v2.count() == 8 and v2.filter("k = 106").count() == 1
    live = spark.table("t_tt_ins").collect()
    assert len(live) == 1 and live[0]["k"] == 9
    # non-history tables keep the native INSERT path untouched
    spark.sql("DROP TABLE IF EXISTS t_tt_plain")
    _clean_stale_location(spark, "t_tt_plain", None)
    spark.sql("CREATE TABLE t_tt_plain (k INT) USING parquet")
    execute_sql(spark, "INSERT INTO t_tt_plain VALUES (1)")
    assert spark.table("t_tt_plain").count() == 1


def test_empty_table_edges_and_missing_history_error(spark):
    """Empty states are first-class: enable_history on a zero-row
    table, and a DELETE-all commit, both produce readable snapshots
    (Spark writes a schema-bearing empty part file); time-travel APIs
    on a non-history table raise a named error, not FileNotFoundError."""
    for t in ("t_tt_empty", "t_tt_delall"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)
        _clean_stale_location(spark, t, None)
    spark.sql("CREATE TABLE t_tt_empty (k INT) USING parquet")
    tt.enable_history(spark, "t_tt_empty")
    assert spark.table("t_tt_empty").count() == 0
    assert tt.table_at(spark, "t_tt_empty", version=0).count() == 0
    spark.sql("CREATE TABLE t_tt_delall (k INT) USING parquet")
    spark.sql("INSERT INTO t_tt_delall VALUES (1), (2)")
    tt.enable_history(spark, "t_tt_delall")
    execute_sql(spark, "DELETE FROM t_tt_delall WHERE k > 0")
    assert spark.table("t_tt_delall").count() == 0
    assert tt.table_at(spark, "t_tt_delall", version=1).count() == 0
    assert tt.table_at(spark, "t_tt_delall", version=0).count() == 2
    with pytest.raises(ValueError, match="not\\s+history-enabled"):
        tt.table_at(spark, "t_tt_never", version=0)
    with pytest.raises(ValueError, match="not\\s+history-enabled"):
        tt.history(spark, "t_tt_never")


# ---------------------------------------------------------------------------
# r15: manifest-of-files log — O(new files) appends, COPY/ALTER APPEND
# interception, commit-log CAS, stale-log guard, pointer self-heal.
# ---------------------------------------------------------------------------


def _inodes(paths):
    return {os.stat(p).st_ino for p in paths}


def test_insert_into_writes_only_new_files(spark):
    """INSERT INTO a history table is an APPEND commit (r15): the new
    version's directory carries every previous file as a HARD LINK
    (same inode — zero data bytes rewritten) plus freshly written
    files holding only the inserted rows. The r14 design paid a full
    copy-on-write rewrite per INSERT; this pins the new cost class."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_appendcost")
    tt.enable_history(spark, "t_tt_appendcost")
    root = tt._table_root(spark, "t_tt_appendcost")
    v0 = tt._read_log(root)[-1]
    v0_paths = tt._entry_paths(v0)
    v0_listing = sorted(os.listdir(v0["location"]))
    execute_sql(
        spark, "INSERT INTO t_tt_appendcost VALUES (6, 60.00), (7, 70.00)"
    )
    v1 = tt._read_log(root)[-1]
    assert v1["op"] == "insert" and v1["location"] != v0["location"]
    v1_paths = tt._entry_paths(v1)
    # every v0 data file is carried into v1 by hard link: the inode set
    # of v1 contains ALL of v0's inodes...
    assert _inodes(v0_paths) <= _inodes(v1_paths)
    # ...and the only NEW inodes are the delta files, whose bytes are
    # bounded by the 2 inserted rows (not a rewrite of the 5-row table)
    new_paths = [
        p for p in v1_paths if os.stat(p).st_ino not in _inodes(v0_paths)
    ]
    assert new_paths, "append must write at least one new data file"
    assert all(os.stat(p).st_nlink == 1 for p in new_paths)
    # each carried v0 file now has >= 2 links (its v0 name + v1 name)
    assert all(os.stat(p).st_nlink >= 2 for p in v0_paths)
    # v0's directory is untouched — same listing, snapshot intact
    assert sorted(os.listdir(v0["location"])) == v0_listing
    assert tt.table_at(spark, "t_tt_appendcost", version=0).count() == 5
    assert spark.table("t_tt_appendcost").count() == 7
    # the manifest in the log matches the realized directory
    assert v1["files"] == tt._data_files(v1["location"])


def test_copy_into_history_table_version_commits(spark, tmp_path):
    """COPY into a history table publishes as an append commit instead
    of appending files into the live version directory (the r14
    advisor's high finding: table_at(tip) silently changed with no log
    entry). Bad rows under MAXERROR surface in stl_load_errors under
    the REAL table name, not the staging twin's."""
    from amazonredshift_blueprints_spark import timetravel as tt
    from amazonredshift_blueprints_spark.functions.system_tables import (
        register_load_error_view,
    )

    _fresh_history_table(spark, "t_tt_copy")
    tt.enable_history(spark, "t_tt_copy")
    csv = tmp_path / "batch.csv"
    csv.write_text("6,60.00\n7,70.00\nnot-an-int,oops\n")
    execute_sql(
        spark,
        f"COPY t_tt_copy FROM '{csv}' DELIMITER ',' MAXERROR 5",
    )
    ops = [r["op"] for r in tt.history(spark, "t_tt_copy").collect()]
    assert ops == ["enable_history", "copy"]
    assert tt.table_at(spark, "t_tt_copy", version=0).count() == 5
    assert spark.table("t_tt_copy").count() == 7
    register_load_error_view(spark)
    err_tables = {
        r["tbl"] for r in spark.sql("SELECT tbl FROM stl_load_errors").collect()
    }
    assert any("t_tt_copy" in t for t in err_tables)
    assert not any("_bp_tt_copy_" in t for t in err_tables)


def test_alter_append_moves_between_history_tables(spark):
    """ALTER TABLE APPEND with a history-tracked target and/or source
    publishes both halves as commits: the in-move as an append commit,
    the move-out as an empty full-state commit (a native TRUNCATE
    would delete the live version directory's files)."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_aa_tgt")
    _fresh_history_table(spark, "t_tt_aa_src")
    tt.enable_history(spark, "t_tt_aa_tgt")
    tt.enable_history(spark, "t_tt_aa_src")
    execute_sql(spark, "ALTER TABLE t_tt_aa_tgt APPEND FROM t_tt_aa_src")
    assert spark.table("t_tt_aa_tgt").count() == 10
    assert spark.table("t_tt_aa_src").count() == 0
    assert [r["op"] for r in tt.history(spark, "t_tt_aa_tgt").collect()] == [
        "enable_history", "alter append in",
    ]
    assert [r["op"] for r in tt.history(spark, "t_tt_aa_src").collect()] == [
        "enable_history", "alter append out",
    ]
    # both pre-move snapshots stay readable
    assert tt.table_at(spark, "t_tt_aa_tgt", version=0).count() == 5
    assert tt.table_at(spark, "t_tt_aa_src", version=0).count() == 5


def test_concurrent_commit_refused_by_cas(spark, monkeypatch):
    """If the log tip moves while a commit is writing its data (only
    possible past the writer lock — a stale-lock reclaim), the commit
    refuses with ConcurrentWriteError and removes its written files:
    first-to-publish wins, nothing is silently lost (r14 verdict 5)."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_cas")
    tt.enable_history(spark, "t_tt_cas")
    root = tt._table_root(spark, "t_tt_cas")
    orig = tt._cast_to_table

    def racing(spark_, table, df):
        # a second writer publishes between this commit's log read and
        # its _publish — exactly the stale-lock-reclaim interleaving
        entries = tt._read_log(root)
        winner = dict(entries[-1])
        winner.update(version=entries[-1]["version"] + 1, op="winner")
        tt._write_log(root, entries + [winner])
        monkeypatch.setattr(tt, "_cast_to_table", orig)  # fire once
        return orig(spark_, table, df)

    monkeypatch.setattr(tt, "_cast_to_table", racing)
    with pytest.raises(tt.ConcurrentWriteError, match="tip.*moved"):
        execute_sql(spark, "DELETE FROM t_tt_cas WHERE k = 1")
    log = tt._read_log(root)
    assert [e["op"] for e in log] == ["enable_history", "winner"]
    # the losing commit's directory was cleaned up: only logged
    # locations remain on disk
    on_disk = {
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("v")
    }
    assert on_disk == {e["location"] for e in log}


def test_dropped_and_recreated_table_does_not_inherit_history(spark):
    """DROP TABLE + CREATE TABLE under the same name must read as a
    PLAIN table (r14 advisor): the stale commit log would otherwise
    intercept the new table's DML and swap its location into the old
    history root, producing nonsense snapshots."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_recreate")
    tt.enable_history(spark, "t_tt_recreate")
    execute_sql(spark, "DELETE FROM t_tt_recreate WHERE k = 1")  # v1
    spark.sql("DROP TABLE t_tt_recreate")
    _clean_stale_location(spark, "t_tt_recreate", None)
    spark.sql("CREATE TABLE t_tt_recreate (k INT) USING parquet")
    assert not tt.is_history_table(spark, "t_tt_recreate")
    execute_sql(spark, "INSERT INTO t_tt_recreate VALUES (99)")  # native
    assert spark.table("t_tt_recreate").count() == 1
    # the orphaned log still serves forensic snapshot reads...
    assert tt.table_at(spark, "t_tt_recreate", version=1).count() == 4
    assert len(tt._read_log(tt._table_root(spark, "t_tt_recreate"))) == 2
    # ...and enable_history REFUSES to overwrite it (it would destroy
    # the audit trail and strand the old version dirs beyond vacuum)
    with pytest.raises(ValueError, match="left its commit log"):
        tt.enable_history(spark, "t_tt_recreate")
    tt.remove_history(spark, "t_tt_recreate")
    assert tt.enable_history(spark, "t_tt_recreate") == 0
    tt.remove_history(spark, "t_tt_recreate")


def test_pointer_lag_heals_on_next_interception(spark):
    """Crash window between log append and pointer swap: the pointer
    lags the log tip. The next intercepted statement heals it UNDER
    the writer lock (timetravel._heal_pointer) before staging — the
    log is the source of truth, the pointer a cache; is_history_table
    itself stays a pure predicate (a lock-free heal could regress the
    pointer behind a concurrent commit)."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_heal")
    tt.enable_history(spark, "t_tt_heal")
    execute_sql(spark, "DELETE FROM t_tt_heal WHERE k <= 2")  # v1 (3 rows)
    root = tt._table_root(spark, "t_tt_heal")
    v0 = tt._read_log(root)[0]
    # simulate the crash: log gains a restore-to-v0 entry but the
    # pointer swap never ran (the table still points at v1)
    entries = tt._read_log(root)
    entries.append(
        {
            "version": 2,
            "committed_at": time.time(),
            "op": "restore v0",
            "location": v0["location"],
            "files": v0["files"],
        }
    )
    tt._write_log(root, entries)
    assert spark.table("t_tt_heal").count() == 3  # stale pointer
    assert tt.is_history_table(spark, "t_tt_heal")  # pure: no heal
    assert spark.table("t_tt_heal").count() == 3  # still the cache
    # the next intercepted statement heals FIRST (under the lock), so
    # its pre-image is the logged tip (5 rows), then appends one
    execute_sql(spark, "INSERT INTO t_tt_heal VALUES (9, 90.00)")  # v3
    assert spark.table("t_tt_heal").count() == 6
    assert tt.table_at(spark, "t_tt_heal", version=3).count() == 6


def test_vacuum_reclaims_never_logged_leak_dirs(spark):
    """A crash between data write and log append leaks an occupied but
    never-logged v-directory (version numbering skips it so commits
    keep flowing); vacuum must reclaim it — it is referenced by no
    retained entry."""
    import os as _os

    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_leak")
    tt.enable_history(spark, "t_tt_leak")
    root = tt._table_root(spark, "t_tt_leak")
    ghost = _os.path.join(root, "v00000001")
    _os.makedirs(ghost)
    with open(_os.path.join(ghost, "part-leak.parquet"), "wb") as f:
        f.write(b"leak")
    # the next commit skips the occupied dir instead of wedging
    execute_sql(spark, "DELETE FROM t_tt_leak WHERE k = 1")
    log = tt._read_log(root)
    assert log[-1]["version"] == 1
    assert log[-1]["location"] != ghost
    tt.vacuum_history(spark, "t_tt_leak", keep_last=2)  # drops nothing
    assert not _os.path.isdir(ghost)  # ...but reclaims the leak
    assert spark.table("t_tt_leak").count() == 4
    assert tt.table_at(spark, "t_tt_leak", version=0).count() == 5


def test_vacuum_keeps_appended_chain_readable(spark):
    """Vacuuming the base version of an append chain only unlinks the
    old directory's NAMES: the carried inodes survive through the
    retained version's hard links, so the retained manifest never
    dangles."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_vaclink")
    tt.enable_history(spark, "t_tt_vaclink")
    execute_sql(spark, "INSERT INTO t_tt_vaclink VALUES (6, 60.00)")  # v1
    root = tt._table_root(spark, "t_tt_vaclink")
    v0_dir = tt._read_log(root)[0]["location"]
    assert tt.vacuum_history(spark, "t_tt_vaclink", keep_last=1) == [0]
    assert not os.path.isdir(v0_dir)
    assert spark.table("t_tt_vaclink").count() == 6
    assert tt.table_at(spark, "t_tt_vaclink", version=1).count() == 6


# ---------------------------------------------------------------------------
# r16: file-pruned selective DML (commit_replace) + lineage visibility
# (parent / superseded in history()).
# ---------------------------------------------------------------------------


def _multi_file_history_table(spark, name: str):
    """A history table whose manifest spans several files with KNOWN
    disjoint key ranges: v0 holds k 1-5, then two append commits add
    k 6-10 and k 11-15 as separate file sets. Returns (tt, root)."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, name)
    tt.enable_history(spark, name)
    execute_sql(
        spark,
        f"INSERT INTO {name} VALUES "
        "(6, 60.00), (7, 70.00), (8, 80.00), (9, 90.00), (10, 100.00)",
    )
    execute_sql(
        spark,
        f"INSERT INTO {name} VALUES "
        "(11, 110.00), (12, 120.00), (13, 130.00), (14, 140.00), (15, 150.00)",
    )
    return tt, tt._table_root(spark, name)


def _files_with_key(paths, k: int):
    """Manifest files whose rows contain key ``k`` (pyarrow read —
    the test's independent view of file contents)."""
    import pyarrow.parquet as pq

    hits = set()
    for p in paths:
        t = pq.read_table(p, columns=["k"])
        if k in t.column("k").to_pylist():
            hits.add(p)
    return hits


def test_selective_delete_rewrites_only_matching_files(spark):
    """DELETE on a history table is a FILE-PRUNED commit (r16): only
    files containing matched rows rewrite; every other file carries
    into the new version by hard link (same inode — the q111-style
    bytes argument, now for DML). The r15 design paid a full-state
    rewrite per DELETE."""
    tt, root = _multi_file_history_table(spark, "t_tt_seldel")
    prev = tt._read_log(root)[-1]
    prev_paths = tt._entry_paths(prev)
    touched_files = _files_with_key(prev_paths, 12)
    assert touched_files and touched_files < set(prev_paths)
    untouched = set(prev_paths) - touched_files
    assert execute_sql(spark, "DELETE FROM t_tt_seldel WHERE k = 12") is None
    new = tt._read_log(root)[-1]
    assert new["op"] == "delete" and new["parent"] == prev["version"]
    new_paths = tt._entry_paths(new)
    # every untouched file's inode is carried into the new version...
    assert _inodes(untouched) <= _inodes(new_paths)
    # ...the matched file's inode is NOT (its rows were rewritten)...
    assert not (_inodes(touched_files) & _inodes(new_paths))
    # ...and the fresh inodes are delta-sized (<= the one file's bytes)
    fresh = [p for p in new_paths if os.stat(p).st_ino not in _inodes(untouched)]
    assert sum(os.stat(p).st_size for p in fresh) <= 2 * max(
        os.stat(p).st_size for p in touched_files
    )
    assert spark.table("t_tt_seldel").count() == 14
    assert tt.table_at(spark, "t_tt_seldel", version=prev["version"]).count() == 15


def test_selective_update_rewrites_only_matching_files(spark):
    tt, root = _multi_file_history_table(spark, "t_tt_selupd")
    prev = tt._read_log(root)[-1]
    prev_paths = tt._entry_paths(prev)
    touched_files = _files_with_key(prev_paths, 3)
    untouched = set(prev_paths) - touched_files
    assert untouched
    execute_sql(spark, "UPDATE t_tt_selupd SET amt = amt + 1 WHERE k = 3")
    new = tt._read_log(root)[-1]
    assert new["op"] == "update"
    new_paths = tt._entry_paths(new)
    assert _inodes(untouched) <= _inodes(new_paths)
    assert not (_inodes(touched_files) & _inodes(new_paths))
    live = {r["k"]: float(r["amt"]) for r in spark.table("t_tt_selupd").collect()}
    assert live[3] == 31.0 and live[12] == 120.0 and len(live) == 15
    # the pre-image snapshot is intact
    old = {
        r["k"]: float(r["amt"])
        for r in tt.table_at(spark, "t_tt_selupd", version=prev["version"]).collect()
    }
    assert old[3] == 30.0


def test_selective_merge_carries_unmatched_files_and_inserts(spark):
    """MERGE on a history table prunes to files whose keys intersect
    the source: unmatched files carry by hard link; source inserts and
    updates land; counters stay exact."""
    from amazonredshift_blueprints_spark.dml import merge_into

    tt, root = _multi_file_history_table(spark, "t_tt_selmrg")
    prev = tt._read_log(root)[-1]
    prev_paths = tt._entry_paths(prev)
    touched_files = _files_with_key(prev_paths, 7)
    untouched = set(prev_paths) - touched_files
    from decimal import Decimal

    src = spark.createDataFrame(
        [(7, Decimal("777.00")), (99, Decimal("990.00"))],
        "k INT, amt DECIMAL(12,2)",
    )
    n_upd, n_ins, n_del = merge_into(spark, "t_tt_selmrg", src, ["k"])
    assert (n_upd, n_ins, n_del) == (1, 1, 0)
    new = tt._read_log(root)[-1]
    assert new["op"] == "merge"
    new_paths = tt._entry_paths(new)
    assert _inodes(untouched) <= _inodes(new_paths)
    assert not (_inodes(touched_files) & _inodes(new_paths))
    live = {r["k"]: float(r["amt"]) for r in spark.table("t_tt_selmrg").collect()}
    assert live[7] == 777.0 and live[99] == 990.0 and len(live) == 16


def test_selective_update_from_carries_unmatched_files(spark):
    """UPDATE ... FROM on a history table takes the merge-style
    file-pruned path (r16): only files whose keys intersect the source
    rewrite, the rest carry by hard link, the counter stays exact, and
    a no-match source publishes a metadata-only commit. Exercises the
    pair-key form ((k, ck) — different column names each side)."""
    from decimal import Decimal

    from amazonredshift_blueprints_spark.dml import update_from

    tt, root = _multi_file_history_table(spark, "t_tt_selupf")
    prev = tt._read_log(root)[-1]
    prev_paths = tt._entry_paths(prev)
    touched_files = _files_with_key(prev_paths, 5)
    untouched = set(prev_paths) - touched_files
    assert touched_files and untouched
    src = spark.createDataFrame(
        [(5, Decimal("2.00")), (999, Decimal("3.00"))],
        "ck INT, delta DECIMAL(12,2)",
    )
    n = update_from(
        spark, "t_tt_selupf", src, [("k", "ck")],
        {"amt": "amt + _src_delta"},
    )
    assert n == 1
    new = tt._read_log(root)[-1]
    assert new["op"] == "update from" and new["parent"] == prev["version"]
    new_paths = tt._entry_paths(new)
    assert _inodes(untouched) <= _inodes(new_paths)
    assert not (_inodes(touched_files) & _inodes(new_paths))
    live = {r["k"]: float(r["amt"]) for r in spark.table("t_tt_selupf").collect()}
    assert live[5] == 52.0 and len(live) == 15
    assert (
        tt.table_at(spark, "t_tt_selupf", version=prev["version"]).count()
        == 15
    )
    # a source matching no file publishes a metadata-only commit
    src2 = spark.createDataFrame(
        [(777, Decimal("1.00"))], "ck INT, delta DECIMAL(12,2)"
    )
    assert (
        update_from(
            spark, "t_tt_selupf", src2, [("k", "ck")],
            {"amt": "amt + _src_delta"},
        )
        == 0
    )
    newest = tt._read_log(root)[-1]
    assert newest["location"] == new["location"]
    assert newest["files"] == new["files"]


def test_no_match_dml_is_metadata_only_commit(spark):
    """A DELETE, UPDATE or UPDATE FROM matching nothing publishes a
    METADATA-ONLY commit: a new version number whose entry reuses the
    tip's directory and manifest — version-per-statement semantics at
    zero data bytes."""
    from decimal import Decimal

    from amazonredshift_blueprints_spark.dml import update_from

    tt, root = _multi_file_history_table(spark, "t_tt_nomatch")
    src = spark.createDataFrame(
        [(999, Decimal("1.00"))], "k INT, delta DECIMAL(12,2)"
    )
    statements = {
        "delete": lambda: execute_sql(
            spark, "DELETE FROM t_tt_nomatch WHERE k = 999"
        ),
        "update": lambda: execute_sql(
            spark, "UPDATE t_tt_nomatch SET amt = amt + 1 WHERE k = 999"
        ),
        "update from": lambda: update_from(
            spark, "t_tt_nomatch", src, ["k"], {"amt": "amt + _src_delta"}
        ),
    }
    for op, run in statements.items():
        prev = tt._read_log(root)[-1]
        assert not run()  # None from execute_sql, 0 rows from update_from
        new = tt._read_log(root)[-1]
        assert new["version"] == prev["version"] + 1
        assert new["op"] == op
        assert new["location"] == prev["location"]
        assert new["files"] == prev["files"]
    assert spark.table("t_tt_nomatch").count() == 15


def test_restore_marks_bypassed_versions_superseded(spark):
    """history() lineage (r16): a restore's entry records the restore
    TARGET as its parent, so the versions between target and old tip
    read superseded=True — off the live lineage, still readable."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_lineage")
    tt.enable_history(spark, "t_tt_lineage")
    execute_sql(spark, "DELETE FROM t_tt_lineage WHERE k = 1")  # v1
    execute_sql(spark, "DELETE FROM t_tt_lineage WHERE k = 2")  # v2
    tt.restore_table(spark, "t_tt_lineage", 0)  # v3, parent 0
    rows = {r["version"]: r for r in tt.history(spark, "t_tt_lineage").collect()}
    assert rows[3]["parent"] == 0 and not rows[3]["superseded"]
    assert rows[1]["superseded"] and rows[2]["superseded"]
    assert not rows[0]["superseded"]


def test_dead_branch_after_pointer_lag_is_visible(spark):
    """The documented post-crash residue, now OBSERVABLE (r15 verdict
    item 6): with the pointer regressed one version behind the log tip
    (the crash window between log append and pointer swap), a
    FULL-STATE rewrite whose pre-image came through the pointer lands
    with the lagging version as its parent — and history() flags the
    bypassed tip as superseded instead of leaving a silent dead
    branch. Selective DML is immune (it reads the tip's manifest)."""
    from amazonredshift_blueprints_spark import dml, timetravel as tt

    _fresh_history_table(spark, "t_tt_deadbr")
    tt.enable_history(spark, "t_tt_deadbr")
    execute_sql(spark, "DELETE FROM t_tt_deadbr WHERE k = 1")  # v1 (tip)
    root = tt._table_root(spark, "t_tt_deadbr")
    v0 = tt._read_log(root)[0]
    # simulate the crash: pointer regressed to v0, log tip still v1
    spark.sql(f"ALTER TABLE t_tt_deadbr SET LOCATION '{v0['location']}'")
    spark.catalog.refreshTable("spark_catalog.default.t_tt_deadbr")
    # a full-state rewrite based on the POINTER's (stale) pre-image
    dml._rewrite(spark, "t_tt_deadbr", spark.table("t_tt_deadbr"))
    rows = {r["version"]: r for r in tt.history(spark, "t_tt_deadbr").collect()}
    assert rows[2]["parent"] == 0  # derived from v0, not the tip v1
    assert rows[1]["superseded"]  # the dead branch is flagged
    assert not rows[2]["superseded"]
    # the branch stays readable — never silently lost
    assert tt.table_at(spark, "t_tt_deadbr", version=1).count() == 4
    assert spark.table("t_tt_deadbr").count() == 5


def test_selective_scd2_carries_history_files(spark):
    """SCD2 apply on a history-tracked dimension is file-pruned (r16):
    files holding only history rows or non-matching current rows carry
    by hard link; counters still report whole-table truth including
    untouched current rows living in carried files."""
    from decimal import Decimal

    from amazonredshift_blueprints_spark import timetravel as tt
    from amazonredshift_blueprints_spark.dml import scd2_apply

    name = "t_tt_selscd2"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    tt.remove_history(spark, name)
    _clean_stale_location(spark, name, None)
    spark.sql(
        f"CREATE TABLE {name} (k INT, attr STRING, valid_from TIMESTAMP, "
        "valid_to TIMESTAMP, is_current BOOLEAN) USING parquet"
    )
    spark.sql(
        f"INSERT INTO {name} VALUES "
        "(1, 'a', TIMESTAMP '2024-01-01', NULL, true), "
        "(2, 'b', TIMESTAMP '2024-01-01', NULL, true)"
    )
    tt.enable_history(spark, name)
    # v1 appends a second file set: one closed history row + a current
    execute_sql(
        spark,
        f"INSERT INTO {name} VALUES "
        "(3, 'old', TIMESTAMP '2023-01-01', TIMESTAMP '2024-01-01', false), "
        "(3, 'c', TIMESTAMP '2024-01-01', NULL, true)",
    )
    root = tt._table_root(spark, name)
    prev = tt._read_log(root)[-1]
    prev_paths = tt._entry_paths(prev)
    # source changes k=1 only -> v0's file (holding k=1) rewrites,
    # v1's appended file (k=3 rows) carries
    touched_files = _files_with_key(prev_paths, 1)
    untouched = set(prev_paths) - touched_files
    assert untouched
    # incremental feed: only k=1 changes; k=3's absence means "no
    # change" (close_missing=False), so its file must NOT be touched
    src = spark.createDataFrame([(1, "a2")], "k INT, attr STRING")
    n_closed, n_opened, n_untouched = scd2_apply(
        spark, name, src, ["k"], ["attr"], batch_ts="2024-06-01",
    )
    assert (n_closed, n_opened) == (1, 1)
    # untouched current rows: k=2 (carried file) + k=3 (unchanged)
    assert n_untouched == 2
    new = tt._read_log(root)[-1]
    assert new["op"] == "scd2 apply"
    new_paths = tt._entry_paths(new)
    assert _inodes(untouched) <= _inodes(new_paths)
    assert not (_inodes(touched_files) & _inodes(new_paths))
    live = spark.table(name)
    assert live.count() == 5  # 2 current + closed k=1 + new k=1 + k=3 pair
    cur = {
        r["k"]: r["attr"]
        for r in live.filter(F_col_is_current(live)).collect()
    }
    assert cur == {1: "a2", 2: "b", 3: "c"}


def F_col_is_current(df):
    from pyspark.sql import functions as F

    return F.col("is_current")


def test_compact_history_coalesces_manifest(spark):
    """compact_history (r16): after N append commits the manifest
    holds O(N) files; compaction publishes ONE full-state version
    with the requested file count, old versions stay readable, and
    vacuum afterwards reclaims the small files' bytes."""
    from amazonredshift_blueprints_spark import timetravel as tt

    _fresh_history_table(spark, "t_tt_compact")
    tt.enable_history(spark, "t_tt_compact")
    for k in range(6, 10):
        execute_sql(
            spark, f"INSERT INTO t_tt_compact VALUES ({k}, {k}0.00)"
        )
    root = tt._table_root(spark, "t_tt_compact")
    before = tt._read_log(root)[-1]
    assert len(before["files"]) > 2  # appends accumulated files
    v = tt.compact_history(spark, "t_tt_compact", target_files=1)
    after = tt._read_log(root)[-1]
    assert after["version"] == v and after["op"] == "compact"
    assert len(after["files"]) == 1
    assert spark.table("t_tt_compact").count() == 9
    assert tt.table_at(spark, "t_tt_compact", version=0).count() == 5
    assert (
        tt.table_at(spark, "t_tt_compact", version=before["version"]).count()
        == 9
    )
    with pytest.raises(ValueError, match="not history-tracked"):
        tt.compact_history(spark, "t_tt_nothist_compact")


def test_sql_face_version_as_of_select_and_ctas(spark):
    """The time-travel SQL face (r16): ``t VERSION AS OF n`` resolves
    onto table_at snapshot views inside any dispatched statement —
    plain SELECT, CTAS, and joins mixing versions with the live
    table."""
    _fresh_history_table(spark, "t_tt_sqlface")
    tt.enable_history(spark, "t_tt_sqlface")  # v0: 5 rows
    execute_sql(spark, "DELETE FROM t_tt_sqlface WHERE k % 2 = 0")  # v1
    execute_sql(
        spark, "UPDATE t_tt_sqlface SET amt = amt + 1 WHERE k = 1"
    )  # v2
    q = tt.resolve_time_travel(
        spark,
        "SELECT COUNT(*) AS n FROM t_tt_sqlface VERSION AS OF 0",
    )
    assert "VERSION AS OF" not in q.upper()
    assert spark.sql(q).collect()[0]["n"] == 5
    # SQL-2011 spelling + alias + join between two versions
    q = tt.resolve_time_travel(
        spark,
        "SELECT COUNT(*) AS n FROM t_tt_sqlface FOR SYSTEM_VERSION AS "
        "OF 0 a JOIN t_tt_sqlface VERSION AS OF 1 b ON a.k = b.k",
    )
    assert spark.sql(q).collect()[0]["n"] == 3
    # CTAS through the real statement dispatcher end-to-end
    spark.sql("DROP TABLE IF EXISTS t_tt_sqlface_out")
    execute_sql(
        spark,
        "CREATE TABLE t_tt_sqlface_out AS SELECT k, amt FROM "
        "t_tt_sqlface VERSION AS OF 1 WHERE k >= 3",
    )
    got = {r["k"]: float(r["amt"]) for r in
           spark.table("t_tt_sqlface_out").collect()}
    assert got == {3: 30.0, 5: 50.0}
    spark.sql("DROP TABLE IF EXISTS t_tt_sqlface_out")


def test_sql_face_timestamp_as_of_and_literal_guard(spark):
    """``TIMESTAMP AS OF`` accepts a unix epoch or a quoted ISO
    datetime (naive → UTC, the log's committed_at convention); the
    clause inside a string literal is never rewritten; a non-history
    table raises table_at's error loudly."""
    _fresh_history_table(spark, "t_tt_sqlts")
    tt.enable_history(spark, "t_tt_sqlts")
    between = time.time()
    time.sleep(0.01)
    execute_sql(spark, "DELETE FROM t_tt_sqlts WHERE k <= 3")  # v1
    q = tt.resolve_time_travel(
        spark,
        f"SELECT COUNT(*) AS n FROM t_tt_sqlts TIMESTAMP AS OF {between}",
    )
    assert spark.sql(q).collect()[0]["n"] == 5
    # far-future ISO string pins the tip
    q = tt.resolve_time_travel(
        spark,
        "SELECT COUNT(*) AS n FROM t_tt_sqlts FOR SYSTEM_TIME AS OF "
        "'9999-12-31 23:59:59'",
    )
    assert spark.sql(q).collect()[0]["n"] == 2
    # a literal mentioning the clause is untouched
    s = "SELECT 'x VERSION AS OF 1' AS lit"
    assert tt.resolve_time_travel(spark, s) == s
    # non-history table -> the table_at error, not a silent live read
    with pytest.raises(ValueError, match="no snapshot history"):
        tt.resolve_time_travel(
            spark, "SELECT * FROM t_tt_absent_tbl VERSION AS OF 0"
        )


def test_stream_append_history_commits_per_batch_with_inode_carry(spark):
    """Streaming into a history table (r16): each micro-batch publishes
    one APPEND commit — version per batch, previous files carried by
    hard link (O(batch), never O(table)), every version readable, and
    the final state exact."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.streaming.sessions import (
        stream_append_history,
    )

    _fresh_history_table(spark, "t_tt_streamsink")
    tt.enable_history(spark, "t_tt_streamsink")  # v0: k 1..5
    root = tt._table_root(spark, "t_tt_streamsink")
    v0_paths = tt._entry_paths(tt._read_log(root)[-1])
    d = tempfile.mkdtemp(prefix="bp_tt_streamsink_")
    for k, lo in enumerate((10, 20)):
        tmp = os.path.join(d, f"_s{k}")
        spark.range(lo, lo + 3).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).cast("decimal(12,2)").alias("amt"),
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.move(part, os.path.join(d, f"part-{k}.parquet"))
        shutil.rmtree(tmp)
    stream = (
        spark.readStream.schema("k int, amt decimal(12,2)")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    stream_append_history(stream, "t_tt_streamsink")
    hist = tt.history(spark, "t_tt_streamsink").collect()
    assert [r["op"] for r in hist] == [
        "enable_history", "insert", "insert"
    ]
    # v0's files ride into the tip by hard link — inode carry across
    # BOTH streaming commits
    tip_paths = tt._entry_paths(tt._read_log(root)[-1])
    assert _inodes(v0_paths) <= _inodes(tip_paths)
    assert all(os.stat(p).st_nlink >= 2 for p in v0_paths)
    # each version is a pinned snapshot: 5, 5+3, 5+6 rows
    assert [
        tt.table_at(spark, "t_tt_streamsink", version=v).count()
        for v in range(3)
    ] == [5, 8, 11]
    ks = sorted(r["k"] for r in spark.table("t_tt_streamsink").collect())
    assert ks == [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 22]


def test_zero_copy_clone_shares_inodes_and_diverges(spark):
    """clone_history_table (r16): the clone's v0 is the source tip by
    HARD LINK (same inodes, zero data bytes), both tables then evolve
    independently, and vacuuming the source can never dangle the
    clone — the anti-Delta-shallow-clone guarantee."""
    src, dst = "t_tt_clone_src", "t_tt_clone_dst"
    _fresh_history_table(spark, src)
    tt.enable_history(spark, src)  # v0
    execute_sql(spark, f"DELETE FROM {src} WHERE k = 1")  # v1: k 2..5
    spark.sql(f"DROP TABLE IF EXISTS {dst}")
    tt.remove_history(spark, dst)
    assert tt.clone_history_table(spark, src, dst) == 0
    src_root = tt._table_root(spark, src)
    dst_root = tt._table_root(spark, dst)
    src_tip = tt._entry_paths(tt._read_log(src_root)[-1])
    dst_v0 = tt._entry_paths(tt._read_log(dst_root)[-1])
    assert _inodes(src_tip) == _inodes(dst_v0)  # zero-copy
    assert tt.history(spark, dst).collect()[0]["op"].startswith("clone ")
    # independent evolution: write to each side
    execute_sql(spark, f"UPDATE {dst} SET amt = amt * 2 WHERE k = 2")
    execute_sql(spark, f"DELETE FROM {src} WHERE k = 5")
    assert {r["k"]: float(r["amt"])
            for r in spark.table(dst).collect()} == {
        2: 40.0, 3: 30.0, 4: 40.0, 5: 50.0}
    assert sorted(r["k"] for r in spark.table(src).collect()) == [2, 3, 4]
    # the clone's v0 still equals the source state at clone time
    assert sorted(
        r["k"] for r in tt.table_at(spark, dst, version=0).collect()
    ) == [2, 3, 4, 5]
    # vacuum the source down to its tip: the clone keeps reading v0
    tt.vacuum_history(spark, src, keep_last=1)
    assert sorted(
        r["k"] for r in tt.table_at(spark, dst, version=0).collect()
    ) == [2, 3, 4, 5]
    # refusals
    with pytest.raises(ValueError, match="already exists"):
        tt.clone_history_table(spark, src, dst)
    with pytest.raises(ValueError, match="src and dst are the same"):
        tt.clone_history_table(spark, src, src)
    spark.sql("DROP TABLE IF EXISTS t_tt_nothist")
    tt.remove_history(spark, "t_tt_nothist")
    _clean_stale_location(spark, "t_tt_nothist", None)
    spark.sql("CREATE TABLE t_tt_nothist (k INT) USING parquet")
    with pytest.raises(ValueError, match="not history-enabled"):
        tt.clone_history_table(spark, "t_tt_nothist", "t_tt_clone_x")


def test_rename_history_table_keeps_log(spark):
    """ALTER TABLE RENAME on a history table (r16): without
    interception a catalog rename silently DETACHES the commit log
    (root keyed by name) — the dispatcher routes it through
    rename_history_table, which moves the root, rewrites entry
    locations, renames the catalog table and re-points it; history
    survives, versioning continues, refusals fire."""
    old, new = "t_tt_ren_old", "t_tt_ren_new"
    for t in (old, new):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        tt.remove_history(spark, t)
        _clean_stale_location(spark, t, None)
    _fresh_history_table(spark, old)
    tt.enable_history(spark, old)  # v0
    execute_sql(spark, f"DELETE FROM {old} WHERE k = 1")  # v1
    execute_sql(spark, f"ALTER TABLE {old} RENAME TO {new}")
    assert tt.is_history_table(spark, new)
    assert not spark.catalog.tableExists(old)
    # old name's log moved, not orphaned
    assert not os.path.exists(tt._table_root(spark, old))
    # full history under the new name, locations rewritten
    hist = tt.history(spark, new).collect()
    assert [r["op"] for r in hist] == ["enable_history", "delete"]
    assert tt.table_at(spark, new, version=0).count() == 5
    assert spark.table(new).count() == 4
    # versioning continues under the new name (append commit)
    execute_sql(spark, f"INSERT INTO {new} VALUES (9, 90.00)")
    assert tt.history(spark, new).count() == 3
    assert spark.table(new).count() == 5
    # refusals
    spark.sql("DROP TABLE IF EXISTS t_tt_ren_clash")
    tt.remove_history(spark, "t_tt_ren_clash")
    _clean_stale_location(spark, "t_tt_ren_clash", None)
    spark.sql("CREATE TABLE t_tt_ren_clash (k INT) USING parquet")
    with pytest.raises(ValueError, match="already exists"):
        tt.rename_history_table(spark, new, "t_tt_ren_clash")
    with pytest.raises(ValueError, match="old and new are the same"):
        tt.rename_history_table(spark, new, new)
    with pytest.raises(ValueError, match="not history-enabled"):
        tt.rename_history_table(spark, "t_tt_ren_clash", "t_tt_ren_x")
    # a NON-history table's RENAME still goes through Spark natively
    execute_sql(
        spark, "ALTER TABLE t_tt_ren_clash RENAME TO t_tt_ren_clash2"
    )
    assert spark.catalog.tableExists("t_tt_ren_clash2")
    spark.sql("DROP TABLE IF EXISTS t_tt_ren_clash2")
