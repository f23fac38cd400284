from __future__ import annotations

import json
import os

import pytest

from article_extraction_spark.catalog import CommitConflict, ManifestTable


def test_append_read_time_travel(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    v2 = t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert (v1, v2) == (1, 2)
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}
    assert {r["k"] for r in t.read(spark, snapshot_id=v1).collect()} == {1}  # time travel

    v3 = t.overwrite(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert {r["k"] for r in t.read(spark).collect()} == {9}
    assert {r["k"] for r in t.read(spark, snapshot_id=v2).collect()} == {1, 2}
    assert t.snapshots() == [1, 2, 3] and t.current_snapshot_id() == v3


def test_snapshot_isolation_reader_unaffected(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    old = t.read(spark)  # plan bound to snapshot 1's file list
    t.overwrite(spark.createDataFrame([(2,)], "k int"))
    assert [r["k"] for r in old.collect()] == [1]  # immutable files → stable read


def test_concurrent_commit_conflict_and_rebase(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "k int"))

    # simulate a racing writer grabbing every next version: appends rebase,
    # but exhaust retries ⇒ CommitConflict
    class Stubborn(ManifestTable):
        def current_snapshot_id(self):
            real = super().current_snapshot_id()
            # racing writer commits version real+1 just before us
            path = self._manifest_path(real + 1)
            if not os.path.exists(path):
                from pyspark.sql import types as T

                racer = T.StructType([T.StructField("k", T.IntegerType())]).json()
                with open(path, "x") as f:
                    json.dump({"snapshot_id": real + 1, "parent": real,
                               "operation": "append", "files": [], "schema": racer}, f)
            return real

    s = Stubborn(str(tmp_path / "tbl"))
    with pytest.raises(CommitConflict):
        s._commit(["x"], "overwrite", "{}", retries=2)

    # a normal append AFTER the race rebases onto the racer's head (which
    # dropped the old files — its manifest is authoritative) and wins
    v = t.append(spark.createDataFrame([(5,)], "k int"))
    assert v == t.current_snapshot_id()
    assert 5 in {r["k"] for r in t.read(spark).collect()}


def test_merge_copy_on_write(spark, tmp_path):
    """MERGE rewrites only files containing matched keys; untouched files
    carry into the new snapshot by reference; old snapshots still readable."""
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v2 = t.append(spark.createDataFrame([(3, "c")], "k int, v string"))

    src = spark.createDataFrame([(2, "B!"), (9, "new")], "k int, v string")
    v3 = t.merge(spark, src, ["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B!", 3: "c", 9: "new"}

    m2, m3 = t._load(v2), t._load(v3)
    untouched = [f for f in m2["files"] if f in m3["files"]]
    assert untouched, "untouched data files should be reused by reference"
    # time travel unaffected
    assert {r["k"] for r in t.read(spark, snapshot_id=v1).collect()} == {1, 2}

    # merge into empty table = append
    t2 = ManifestTable(str(tmp_path / "tbl2"))
    t2.merge(spark, src, ["k"])
    assert {r["k"] for r in t2.read(spark).collect()} == {2, 9}


def test_merge_conflict_raises(spark, tmp_path):
    """A commit racing a merge must surface as CommitConflict, never a
    silent rebase (it could resurrect rows the other writer deleted)."""
    root = str(tmp_path / "tbl")
    t = ManifestTable(root)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))

    class RacedMerge(ManifestTable):
        def _write_data(self, df):
            files = super()._write_data(df)
            # racer commits while our merge is writing its files
            ManifestTable(self.root).append(spark.createDataFrame([(7, "r")], "k int, v string"))
            return files

    with pytest.raises(CommitConflict):
        RacedMerge(root).merge(spark, spark.createDataFrame([(1, "A")], "k int, v string"), ["k"])


def test_append_racing_overwrite_does_not_resurrect_deleted_files(spark, tmp_path):
    """ADVICE r1: an append that loses the commit race to a concurrent
    OVERWRITE must rebase only its own new files onto the overwrite's head —
    not re-add the pre-overwrite base files it had read before the race."""
    root = str(tmp_path / "tbl")
    t = ManifestTable(root)
    t.append(spark.createDataFrame([(1,)], "k int"))  # v1: the 'old' data

    class RacedOnce(ManifestTable):
        """First head lookup returns a stale view while a racer commits an
        overwrite; subsequent lookups see the truth."""

        raced = False

        def current_snapshot_id(self):
            real = super().current_snapshot_id()
            if not RacedOnce.raced:
                RacedOnce.raced = True
                ManifestTable(self.root).overwrite(
                    spark.createDataFrame([(9,)], "k int")
                )  # racer wins the next version, dropping v1's files
                return real  # appender still believes the stale head
            return super().current_snapshot_id()

    appender = RacedOnce(root)
    appender.append(spark.createDataFrame([(5,)], "k int"))
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {9, 5}, f"pre-overwrite rows resurrected: {got}"


def test_merge_into_empty_table_racing_commit_raises(spark, tmp_path):
    """merge keeps its raise-never-rebase contract even when the table was
    empty at plan time (review r2 finding: the append delegation silently
    rebased)."""
    root = str(tmp_path / "tbl")

    class RacedEmptyMerge(ManifestTable):
        def _write_data(self, df):
            files = super()._write_data(df)
            ManifestTable(self.root).append(spark.createDataFrame([(7, "r")], "k int, v string"))
            return files

    with pytest.raises(CommitConflict):
        RacedEmptyMerge(root).merge(spark, spark.createDataFrame([(1, "a")], "k int, v string"), ["k"])


def test_merge_with_narrower_src_keeps_table_columns(spark, tmp_path):
    """A merge whose src lacks existing table columns must not hide them
    from later reads (review r2: src.schema was committed verbatim)."""
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, w double"))
    t.merge(spark, spark.createDataFrame([(2, "B!"), (9, "new")], "k int, v string"), ["k"])
    got = {r["k"]: (r["v"], r["w"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 10.0), 2: ("B!", None), 9: ("new", None)}


def test_compact_rewrites_small_files_transactionally(spark, tmp_path):
    """10 tiny append commits accrete 10+ data files; compact() rewrites
    the live snapshot into few files via an overwrite commit — same rows,
    old snapshots untouched (time travel still reads pre-compaction)."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"))
    for i in range(10):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k long, v string"))
    before_snap = t.current_snapshot_id()
    before_files = t._load(before_snap)["files"]
    assert len(before_files) >= 10

    new_snap = t.compact(spark, target_bytes=1 << 30)  # everything → 1 file
    after_files = t._load(new_snap)["files"]
    assert len(after_files) < len(before_files)
    rows = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert rows == {(i, f"v{i}") for i in range(10)}
    # time travel to the pre-compaction snapshot still works
    old = {(r["k"], r["v"]) for r in t.read(spark, snapshot_id=before_snap).collect()}
    assert old == rows


def test_compact_conflict_refuses_to_clobber(spark, tmp_path):
    """review r3: a commit landing between compact's read and its commit
    must raise CommitConflict — a rebasing overwrite would silently drop
    the concurrent writer's rows."""
    import json
    import os

    import pytest

    from article_extraction_spark.catalog import CommitConflict, ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    snap = t.current_snapshot_id()
    racing = {
        "snapshot_id": snap + 1, "parent": snap, "operation": "append",
        "files": t._load(snap)["files"], "schema": t._load(snap)["schema"],
    }

    # inject the racing commit AFTER compact has read the head (between its
    # data write and its manifest commit)
    orig_write = t._write_data

    def hooked(df):
        files = orig_write(df)
        with open(t._manifest_path(snap + 1), "x") as fh:
            json.dump(racing, fh)
        return files

    t._write_data = hooked
    with pytest.raises(CommitConflict, match="compact"):
        t.compact(spark)
    # table head is the racing commit, untouched
    assert t.current_snapshot_id() == snap + 1


def test_compact_conflict_deletes_orphaned_data_files(spark, tmp_path):
    """ADVICE r3: compact writes its rewritten data files BEFORE the CAS
    manifest commit; on CommitConflict those files are referenced by no
    manifest and must be removed, or every conflicting retry leaks a full
    table copy in the table root."""
    import json
    import os

    import pytest

    from article_extraction_spark.catalog import CommitConflict, ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    snap = t.current_snapshot_id()
    racing = {
        "snapshot_id": snap + 1, "parent": snap, "operation": "append",
        "files": t._load(snap)["files"], "schema": t._load(snap)["schema"],
    }
    orig_write = t._write_data
    written_by_compact = []

    def hooked(df):
        files = orig_write(df)
        written_by_compact.extend(files)
        with open(t._manifest_path(snap + 1), "x") as fh:
            json.dump(racing, fh)
        return files

    t._write_data = hooked
    with pytest.raises(CommitConflict):
        t.compact(spark)
    assert written_by_compact, "hook never saw compact's data files"
    leaked = [f for f in written_by_compact if os.path.exists(os.path.join(t.root, f))]
    assert leaked == [], f"orphaned compact files left behind: {leaked}"
    # the live (racing) snapshot still reads cleanly
    rows = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_retry_rewidens_schema_against_new_head(spark, tmp_path):
    """Review r5: a CommitConflict retry must re-widen the append schema
    against the RETRY's head, not the head seen before the first attempt.
    A racing commit adds column c between our first attempt and the retry;
    the committed schema must still carry c."""
    from pyspark.sql import types as T

    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "k int, b string"))

    class RaceOnce(ManifestTable):
        """First current_snapshot_id() call also plants a racing commit
        that widens the table with column c — our first exclusive-create
        then loses and the retry rebases against the racer's head."""

        def __init__(self, root):
            super().__init__(root)
            self._raced = False

        def current_snapshot_id(self):
            real = super().current_snapshot_id()
            if not self._raced:
                self._raced = True
                racer_schema = T.StructType(
                    [
                        T.StructField("k", T.IntegerType()),
                        T.StructField("b", T.StringType()),
                        T.StructField("c", T.DoubleType()),
                    ]
                ).json()
                with open(self._manifest_path(real + 1), "x") as f:
                    json.dump(
                        {
                            "snapshot_id": real + 1,
                            "parent": real,
                            "operation": "append",
                            "files": [],
                            "schema": racer_schema,
                        },
                        f,
                    )
            return real

    r = RaceOnce(str(tmp_path / "tbl"))
    narrow = T.StructType([T.StructField("k", T.IntegerType())]).json()
    v = r._commit([], "append", narrow)
    committed = T.StructType.fromJson(json.loads(r._load(v)["schema"]))
    assert [f.name for f in committed.fields] == ["k", "b", "c"]


def test_expire_snapshots_keeps_head_and_sweeps_orphans(spark, tmp_path):
    """Round 5: expiry deletes old manifests and data files no surviving
    snapshot references; the head and recent history stay readable."""
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1,)], "k int"))
    old_files = [os.path.join(t.root, f) for f in t._load(v1)["files"]]
    v2 = t.overwrite(spark.createDataFrame([(2,)], "k int"))
    v3 = t.append(spark.createDataFrame([(3,)], "k int"))
    v4 = t.append(spark.createDataFrame([(4,)], "k int"))

    res = t.expire_snapshots(keep_last=2)
    assert res["expired"] == [v1, v2]
    # v1's files are referenced by NO survivor (v2 overwrote) → deleted
    assert res["deleted_files"] >= 1
    assert all(not os.path.exists(p) for p in old_files)
    # head + kept snapshot still read correctly
    assert {r["k"] for r in t.read(spark).collect()} == {2, 3, 4}
    assert {r["k"] for r in t.read(spark, snapshot_id=v3).collect()} == {2, 3}
    # expired snapshot unreadable
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=v1)
    # pure-append history: expiry deletes NO data files (head references all)
    res2 = t.expire_snapshots(keep_last=1)
    assert res2["expired"] == [v3] and res2["deleted_files"] == 0
    assert {r["k"] for r in t.read(spark).collect()} == {2, 3, 4}
    # never expires the head, even keep_last=1 repeatedly
    assert t.expire_snapshots(keep_last=1)["expired"] == []
    assert t.current_snapshot_id() == v4


def test_expire_older_than_ts_filter(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    t.append(spark.createDataFrame([(2,)], "k int"))
    t.append(spark.createDataFrame([(3,)], "k int"))
    # cutoff before every commit → nothing old enough, nothing expires
    first_ts = t._load(1)["ts"]
    assert t.expire_snapshots(keep_last=1, older_than_ts=first_ts)["expired"] == []
    # cutoff after every commit → count policy alone decides
    res = t.expire_snapshots(keep_last=2, older_than_ts=first_ts + 1e9)
    assert res["expired"] == [1]


def _added_keys(t, spark, *window) -> set:
    """The ``k`` values of the appended half of an incremental read; an
    append-only window has no deleted half."""
    added, deleted = t.read_incremental_changes(spark, *window)
    assert deleted is None
    return {r["k"] for r in added.collect()}


def test_read_incremental_appends(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1,), (2,)], "k int"))
    v2 = t.append(spark.createDataFrame([(3,)], "k int"))
    v3 = t.append(spark.createDataFrame([(4,), (5,)], "k int"))
    assert _added_keys(t, spark, v1) == {3, 4, 5}
    assert _added_keys(t, spark, v1, v2) == {3}
    assert _added_keys(t, spark, v2, v3) == {4, 5}
    assert _added_keys(t, spark, v3) == set()
    with pytest.raises(ValueError, match="newer"):
        t.read_incremental_changes(spark, v3, v1)
    with pytest.raises(ValueError, match="not an ancestor"):
        t.read_incremental_changes(spark, 0, v3)


def test_read_incremental_compact_merge_expiry(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v2 = t.compact(spark, target_bytes=1 << 30)
    v3 = t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    # compact rewrites rows, adds none
    assert _added_keys(t, spark, v1) == {3}
    # merge in the window: a row-level delta cannot express it
    t.merge(spark, spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), ["k"])
    with pytest.raises(ValueError, match="incremental"):
        t.read_incremental_changes(spark, v1)
    # expired history inside the window → clear error
    v5 = t.append(spark.createDataFrame([(5, "e")], "k int, v string"))
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        t.read_incremental_changes(spark, v1)
    # within surviving history it still works
    assert _added_keys(t, spark, v5 - 1, v5) == {5}


def test_read_incremental_null_aligns_prewidening_files(spark, tmp_path):
    """A file appended before a widening reads back through the delta with
    the widened schema (missing column → NULL), same as full reads; so
    does a row deleted before the widening."""
    t = ManifestTable(str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(0,)], "k int"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    t.delete(spark, spark.createDataFrame([(0,)], "k int"), ["k"])
    t.append(spark.createDataFrame([(2, 20.0)], "k int, extra double"))
    added, deleted = t.read_incremental_changes(spark, v1)
    rows = {r["k"]: r for r in added.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["extra"] is None and rows[2]["extra"] == 20.0
    assert [tuple(r) for r in deleted.collect()] == [(0, None)]


def test_mor_delete_basic_and_time_travel(spark, tmp_path):
    """Merge-on-read equality delete (round 5): no data file rewritten,
    head reads exclude the keys, time travel before the delete still
    sees them."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    v1 = t.append(spark.createDataFrame([(i, f"r{i}") for i in range(10)], "id long, s string"))
    files_before = t._load(v1)["files"]
    v2 = t.delete(spark, spark.createDataFrame([(3,), (7,)], "id long"), ["id"])
    assert t._load(v2)["files"] == files_before  # nothing rewritten
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2, 4, 5, 6, 8, 9]
    assert sorted(r["id"] for r in t.read(spark, snapshot_id=v1).collect()) == list(range(10))


def test_mor_delete_reinsert_and_where(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, i * 10) for i in range(6)], "id long, v long"))
    t.delete(spark, t.read(spark).where("v >= 30"), ["id"])
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2]
    # re-insert id=4: the old delete never covers the new file
    t.append(spark.createDataFrame([(4, 999)], "id long, v long"))
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {0: 0, 1: 10, 2: 20, 4: 999}
    # a second delete with the same key hits ONLY files existing now
    t.delete(spark, spark.createDataFrame([(1,), (4,)], "id long"), ["id"])
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 2]


def test_mor_delete_compact_materializes(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(20)], "id long"))
    vdel = t.delete(spark, spark.createDataFrame([(i,) for i in range(0, 20, 2)], "id long"), ["id"])
    vc = t.compact(spark, target_bytes=1 << 30)
    assert "deletes" not in t._load(vc)  # materialized
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(1, 20, 2))
    # the pre-compact snapshot still applies its delete entries
    assert sorted(r["id"] for r in t.read(spark, snapshot_id=vdel).collect()) == list(range(1, 20, 2))


def test_mor_delete_merge_does_not_resurrect(spark, tmp_path):
    """MERGE over a table with outstanding deletes: survivors come from
    the delete-applied view, and entries keep covering untouched files."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, "old") for i in range(8)], "id long, s string"))
    t.delete(spark, spark.createDataFrame([(2,), (5,)], "id long"), ["id"])
    t.merge(spark, spark.createDataFrame([(0, "new"), (9, "new")], "id long, s string"), ["id"])
    got = {r["id"]: r["s"] for r in t.read(spark).collect()}
    assert 2 not in got and 5 not in got  # deletes survived the merge
    assert got[0] == "new" and got[9] == "new"
    assert got[1] == got[3] == "old"


def test_mor_delete_expiry_keeps_referenced_delete_files(spark, tmp_path):
    import os

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(10)], "id long"))
    t.delete(spark, spark.createDataFrame([(1,)], "id long"), ["id"])
    dfiles = [e["files"] for e in t._load(t.current_snapshot_id())["deletes"]][0]
    for _ in range(6):  # push history past keep_last
        t.append(spark.createDataFrame([], "id long"))
    t.expire_snapshots(keep_last=2)
    # the delete entry still rides the surviving manifests → files live
    for f in dfiles:
        assert os.path.exists(os.path.join(t.root, f)), f
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0] + list(range(2, 10))
    # after compact (materialize) + expiry of the pre-compact history,
    # the delete files become orphans and are swept
    t.compact(spark, target_bytes=1 << 30)
    t.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(os.path.join(t.root, f)) for f in dfiles)


def test_mor_delete_incremental_read_returns_deleted_rows(spark, tmp_path):
    """An incremental read across a delete snapshot returns the deleted
    row in its ``deleted`` half and the later append in its ``added``
    half; delete's validation errors stay crisp."""
    import pytest as _pytest

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    v1 = t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    t.delete(spark, spark.createDataFrame([(1,)], "id long"), ["id"])
    t.append(spark.createDataFrame([(3,)], "id long"))
    added, deleted = t.read_incremental_changes(spark, v1)
    assert [r["id"] for r in added.collect()] == [3]
    assert [r["id"] for r in deleted.collect()] == [1]
    with _pytest.raises(KeyError, match="not in table schema"):
        t.delete(spark, spark.createDataFrame([(1,)], "nope long"), ["nope"])
    with _pytest.raises(ValueError, match="at least one key"):
        t.delete(spark, spark.createDataFrame([(1,)], "id long"), [])


def test_table_diff_lifecycle(spark, tmp_path):
    """Row-level snapshot diff across merge + MoR delete + append (+
    schema widening): added/removed/changed classification with NULL-safe
    comparison, unchanged rows excluded, duplicate keys rejected."""
    import pytest as _pytest

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    v1 = t.append(
        spark.createDataFrame([(i, f"r{i}", i * 10) for i in range(8)], "id long, s string, v long")
    )
    t.merge(spark, spark.createDataFrame([(1, "CHANGED", 10)], "id long, s string, v long"), ["id"])
    t.delete(spark, spark.createDataFrame([(5,), (6,)], "id long"), ["id"])
    t.append(spark.createDataFrame([(100, "new", 0)], "id long, s string, v long"))

    d = {(r["change"], r["id"]): (r["s"], r["v"]) for r in t.diff(spark, v1, keys=["id"]).collect()}
    assert d == {
        ("changed", 1): ("CHANGED", 10),
        ("removed", 5): ("r5", 50),
        ("removed", 6): ("r6", 60),
        ("added", 100): ("new", 0),
    }
    # identical snapshots → empty diff
    head = t.current_snapshot_id()
    assert t.diff(spark, head, head, keys=["id"]).count() == 0
    # schema widening: a new column reads NULL on the old side → every
    # row whose new column is non-NULL is "changed"
    t2 = ManifestTable(str(tmp_path / "t2"))
    w1 = t2.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    t2.merge(spark, spark.createDataFrame([(1, "a", 9)], "id long, s string, extra long"), ["id"])
    dd = t2.diff(spark, w1, keys=["id"]).collect()
    assert len(dd) == 1 and dd[0]["change"] == "changed" and dd[0]["extra"] == 9
    # duplicate keys raise
    t3 = ManifestTable(str(tmp_path / "t3"))
    t3.append(spark.createDataFrame([(1, "x"), (1, "y")], "id long, s string"))
    with _pytest.raises(ValueError, match="not unique"):
        t3.diff(spark, t3.current_snapshot_id(), keys=["id"])
    with _pytest.raises(ValueError, match="key columns"):
        t.diff(spark, v1, keys=[])


def test_mor_read_amplification_metric(spark, tmp_path):
    """VERDICT r5 #6: delete entries per data file is visible as a metric
    and drops to zero once something materializes the deletes."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(8)], "id long").coalesce(1))
    amp0 = t.read_amplification()
    assert amp0["n_delete_entries"] == 0
    assert amp0["delete_entries_per_data_file"] == 0.0
    t.delete(spark, spark.createDataFrame([(1,)], "id long"), ["id"])
    t.delete(spark, spark.createDataFrame([(2,)], "id long"), ["id"])
    amp = t.read_amplification()
    # both entries cover the single original data file
    assert amp["n_delete_entries"] == 2
    assert amp["covered_data_files"] == amp["n_data_files"]
    assert amp["delete_entries_per_data_file"] == 2.0
    assert amp["max_delete_entries_per_file"] == 2
    # a file appended AFTER the deletes is uncovered -> mean drops
    t.append(spark.createDataFrame([(100,)], "id long").coalesce(1))
    amp2 = t.read_amplification()
    assert amp2["covered_data_files"] < amp2["n_data_files"]
    assert amp2["delete_entries_per_data_file"] < 2.0
    assert amp2["max_delete_entries_per_file"] == 2
    t.compact(spark, target_bytes=1 << 30)
    assert t.read_amplification()["delete_entries_per_data_file"] == 0.0


def test_rewrite_deletes_touches_only_covered_files(spark, tmp_path):
    """rewrite_deletes materializes outstanding deletes but — unlike
    compact — carries uncovered data files over BY NAME."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, "a") for i in range(6)], "id long, s string").coalesce(1))
    vdel = t.delete(spark, spark.createDataFrame([(2,), (4,)], "id long"), ["id"])
    t.append(spark.createDataFrame([(10, "b")], "id long, s string").coalesce(1))
    uncovered = [
        f for f in t._load(t.current_snapshot_id())["files"]
        if not any(f in e["applies_to"] for e in t._load(t.current_snapshot_id())["deletes"])
    ]
    vr = t.rewrite_deletes(spark)
    m = t._load(vr)
    assert m["operation"] == "rewrite_deletes"
    assert "deletes" not in m
    # uncovered files carried verbatim, covered ones replaced
    assert set(uncovered) <= set(m["files"])
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 3, 5, 10]
    # time travel: pre-rewrite snapshot still applies its delete entries
    assert sorted(r["id"] for r in t.read(spark, snapshot_id=vdel).collect()) == [0, 1, 3, 5]
    assert t.read_amplification()["delete_entries_per_data_file"] == 0.0
    # idempotent: nothing left to rewrite -> same snapshot id back
    assert t.rewrite_deletes(spark) == vr


def test_delete_auto_rewrite_threshold(spark, tmp_path):
    """delete(auto_rewrite_after=K) leaves MoR entries in place below the
    threshold and materializes them when the mean coverage reaches it."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1))
    v1 = t.delete(spark, spark.createDataFrame([(0,)], "id long"), ["id"], auto_rewrite_after=2.0)
    assert t._load(v1)["operation"] == "delete"  # amp 1.0 < 2.0: MoR entry kept
    v2 = t.delete(spark, spark.createDataFrame([(1,)], "id long"), ["id"], auto_rewrite_after=2.0)
    m2 = t._load(v2)
    assert m2["operation"] == "rewrite_deletes"  # amp hit 2.0 -> materialized
    assert "deletes" not in m2
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(2, 10))
    # the delete snapshot itself still exists under the rewrite (parent chain)
    assert m2["parent"] == v2 - 1
    assert t._load(v2 - 1)["operation"] == "delete"


def test_stats_pruned_read_skips_files_provably(spark, tmp_path):
    """Round 6 scan planning: per-commit footer stats prune the file list
    driver-side. Proof by corruption — files outside the box are
    OVERWRITTEN WITH GARBAGE and the pruned read still answers."""
    import os

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):  # four disjoint id-range commits
        t.append(
            spark.createDataFrame([(i, f"s{i}") for i in range(lo, lo + 100)], "id long, s string").coalesce(1)
        )
    keep, total = t.prune_files({"id": (120, 180)})
    assert total == 4 and len(keep) == 1
    # corrupt every file OUTSIDE the box
    for f in t._load(t.current_snapshot_id())["files"]:
        if f not in keep:
            with open(os.path.join(t.root, f), "wb") as fh:
                fh.write(b"not parquet at all")
    got = sorted(r["id"] for r in t.read_pruned(spark, {"id": (120, 180)}).collect())
    assert got == list(range(120, 181))


def test_stats_pruned_read_equals_filtered_read(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    for lo in (0, 50, 100):
        t.append(spark.createDataFrame([(i, i * 1.5) for i in range(lo, lo + 50)], "id long, v double").coalesce(1))
    box = {"id": (30, 70), "v": (0.0, 100.0)}
    pruned = {r["id"] for r in t.read_pruned(spark, box).collect()}
    full = {
        r["id"]
        for r in t.read(spark).where("id between 30 and 70 and v between 0.0 and 100.0").collect()
    }
    assert pruned == full and len(pruned) == 37


def test_stats_pruned_read_missing_stats_and_deletes(spark, tmp_path):
    """Files with no stats entry are scanned (never wrongly skipped), and
    MoR delete entries still apply on the pruned subset."""
    import os

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1))
    t.append(spark.createDataFrame([(i,) for i in range(100, 200)], "id long").coalesce(1))
    # blow away one commit's stats: that file must be kept regardless of box
    f0 = t._load(t.current_snapshot_id())["files"][0]
    os.remove(os.path.join(t.root, os.path.dirname(f0), "_stats.json"))
    keep, total = t.prune_files({"id": (150, 160)})
    assert total == 2 and len(keep) == 2  # stats-less file survives pruning
    t.delete(spark, spark.createDataFrame([(155,)], "id long"), ["id"])
    got = sorted(r["id"] for r in t.read_pruned(spark, {"id": (150, 160)}).collect())
    assert got == [i for i in range(150, 161) if i != 155]


def test_stats_prune_rejects_string_bounds(spark, tmp_path):
    import pytest as _pytest

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1))
    with _pytest.raises(TypeError, match="prunable"):
        t.prune_files({"s": ("a", "z")})
    # string column stats are never recorded (truncation-unsafe)
    import json as _json
    import os as _os

    f = t._load(t.current_snapshot_id())["files"][0]
    with open(_os.path.join(t.root, _os.path.dirname(f), "_stats.json")) as fh:
        st = _json.load(fh)
    ent = st[_os.path.basename(f)]
    assert "id" in ent["min"] and "s" not in ent["min"]


def test_stats_prune_timestamp_box(spark, tmp_path):
    """Datetime bounds prune when the writer produced timestamp stats;
    if the parquet writer emitted no trustworthy bounds (e.g. INT96),
    nothing is pruned — both outcomes must read correctly."""
    import datetime

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    base = datetime.datetime(2026, 1, 1)
    for day in (0, 10):
        rows = [(i, base + datetime.timedelta(days=day, minutes=i)) for i in range(10)]
        t.append(spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1))
    box = {"ts": (base + datetime.timedelta(days=9), base + datetime.timedelta(days=11))}
    keep, total = t.prune_files(box)
    assert total == 2 and len(keep) in (1, 2)
    got = sorted(r["id"] for r in t.read_pruned(spark, box).collect())
    assert got == list(range(10))


def test_stats_prune_date_bounds_on_timestamp_column(spark, tmp_path):
    """Review r6: date and datetime bounds must land on ONE temporal
    scale — a date box over a timestamp column prunes correctly instead
    of comparing day ordinals against epoch micros."""
    import datetime

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    base = datetime.datetime(2026, 1, 1)
    for day in (0, 30):
        rows = [(i, base + datetime.timedelta(days=day, hours=i)) for i in range(5)]
        t.append(spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1))
    box = {"ts": (datetime.date(2026, 1, 1), datetime.date(2026, 1, 2))}
    got = sorted(r["id"] for r in t.read_pruned(spark, box).collect())
    want = sorted(
        r["id"]
        for r in t.read(spark)
        .where("ts between date '2026-01-01' and date '2026-01-02'")
        .collect()
    )
    assert got == want and got  # non-empty AND equal to the filtered read


def test_stats_prune_respects_session_timezone(spark, tmp_path):
    """Review r6: naive datetime bounds are session-local in the residual
    filter, so pruning must interpret them the same way — in a non-UTC
    session a UTC interpretation shifts the window and drops files."""
    import datetime

    from article_extraction_spark.catalog import ManifestTable

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        t = ManifestTable(str(tmp_path / "t"))
        base = datetime.datetime(2026, 1, 1, 20)  # session-local evening
        rows = [(i, base + datetime.timedelta(minutes=i)) for i in range(10)]
        t.append(spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1))
        box = {"ts": (base, base + datetime.timedelta(minutes=4))}
        got = sorted(r["id"] for r in t.read_pruned(spark, box).collect())
        assert got == [0, 1, 2, 3, 4]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stats_pruning_composes_with_sorted_ingest(spark, tmp_path):
    """Composition (round 6): range-sorted ingest + per-commit footer
    stats = z-order-style data skipping on the CATALOG read path with no
    sidecar and no re-clustering — each sorted append produces files
    with tight disjoint ranges, so a box read scans a small fraction."""
    from pyspark.sql import functions as F

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    rows = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    # time-ordered ingest: four sorted range slices, several files each
    for lo in (0, 1000, 2000, 3000):
        t.append(
            rows.where((F.col("id") >= lo) & (F.col("id") < lo + 1000))
            .repartitionByRange(4, "id")
            .sortWithinPartitions("id")
        )
    keep, total = t.prune_files({"id": (1500, 1700)})
    assert total == 16 and len(keep) <= 2  # tight per-file ranges prune 14+/16
    got = t.read_pruned(spark, {"id": (1500, 1700)}).count()
    assert got == 201


def test_file_blooms_point_lookup_skips_unsorted_files(spark, tmp_path):
    """Round 6 blooms: point lookups prune files on UNSORTED data where
    min/max stats cannot (every commit spans the full key range). Proof
    by corrupting every bloom-rejected file."""
    import os

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    # 4 commits, each holding keys scattered over the whole domain
    for r in range(4):
        rows = [(i, f"s{i}") for i in range(r, 4000, 4)]
        t.append(spark.createDataFrame(rows, "id long, s string").coalesce(1))
    # stats alone cannot prune a point probe
    stat_keep, total = t.prune_files({"id": (1234, 1234)})
    assert len(stat_keep) == total == 4
    n = t.build_file_blooms(spark, ["id"])
    assert n == 4
    keep, total = t.prune_files({"id": (1234, 1234)})
    assert total == 4 and 1 <= len(keep) <= 2  # true file + rare fp
    for f in t._load(t.current_snapshot_id())["files"]:
        if f not in keep:
            with open(os.path.join(t.root, f), "wb") as fh:
                fh.write(b"garbage")
    got = [(r["id"], r["s"]) for r in t.read_pruned(spark, {"id": (1234, 1234)}).collect()]
    assert got == [(1234, "s1234")]


def test_file_blooms_incremental_and_equivalence(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(0, 500, 2)], "id long").coalesce(1))
    assert t.build_file_blooms(spark, ["id"]) == 1
    t.append(spark.createDataFrame([(i,) for i in range(1, 500, 2)], "id long").coalesce(1))
    # only the NEW file gets a bloom on the second pass
    assert t.build_file_blooms(spark, ["id"]) == 1
    assert t.build_file_blooms(spark, ["id"]) == 0  # idempotent
    for probe in (0, 1, 77, 498, 9999):
        got = sorted(r["id"] for r in t.read_pruned(spark, {"id": (probe, probe)}).collect())
        want = sorted(r["id"] for r in t.read(spark).where(f"id = {probe}").collect())
        assert got == want, probe


def test_file_blooms_with_mor_delete_and_missing_bloom(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1))
    t.build_file_blooms(spark, ["id"])
    # a post-bloom append has NO bloom -> its file is always scanned
    t.append(spark.createDataFrame([(42,), (500,)], "id long").coalesce(1))
    keep, total = t.prune_files({"id": (500, 500)})
    assert total == 2 and len(keep) >= 1
    got = sorted(r["id"] for r in t.read_pruned(spark, {"id": (42, 42)}).collect())
    assert got == [42, 42]
    t.delete(spark, spark.createDataFrame([(42,)], "id long"), ["id"])
    assert t.read_pruned(spark, {"id": (42, 42)}).count() == 0  # deletes apply


def test_file_blooms_reject_unbloomable_types_and_skip_bad_probes(spark, tmp_path):
    """Review r6: building blooms on a non-int/string column fails loudly
    (driver probe could not reproduce Spark's cast -> false negatives =
    silent data loss); non-int/str probe VALUES skip the bloom and still
    read correctly via stats + residual."""
    import pytest as _pytest

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, True, 1.5), (2, False, 2.5)], "id long, flag boolean, v double").coalesce(1)
    )
    with _pytest.raises(TypeError, match="blooms support only"):
        t.build_file_blooms(spark, ["flag"])
    with _pytest.raises(TypeError, match="blooms support only"):
        t.build_file_blooms(spark, ["v"])
    t.build_file_blooms(spark, ["id"])
    # bool probe on a bloomed table: bloom skipped, result still correct
    got = [(r["id"], r["flag"]) for r in t.read_pruned(spark, {"flag": (True, True)}).collect()]
    assert got == [(1, True)]
    # mixed probe: int goes through bloom, float through stats+residual
    got2 = [r["id"] for r in t.read_pruned(spark, {"id": (2, 2), "v": (2.5, 2.5)}).collect()]
    assert got2 == [2]


def test_point_box_respects_session_timezone(spark, tmp_path):
    """Review r6 second pass: a point box interprets a naive temporal
    probe value session-locally, same as its residual filter."""
    import datetime

    from article_extraction_spark.catalog import ManifestTable

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        t = ManifestTable(str(tmp_path / "t"))
        ts = datetime.datetime(2026, 1, 1, 22, 30)  # written session-local
        t.append(spark.createDataFrame([(1, ts)], "id long, ts timestamp").coalesce(1))
        got = [r["id"] for r in t.read_pruned(spark, {"ts": (ts, ts)}).collect()]
        assert got == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_maintain_table_job_ladder(spark, tmp_path):
    """jobs/maintain_table.py: the maintenance ladder reports, rewrites
    deletes past the threshold, compacts small files, expires history and
    builds blooms — and dry-run mutates nothing."""
    from article_extraction_spark.catalog import ManifestTable
    from jobs.maintain_table import maintain

    t = ManifestTable(str(tmp_path / "t"))
    for i in range(6):
        t.append(spark.createDataFrame([(j,) for j in range(i * 10, i * 10 + 10)], "id long").coalesce(1))
    t.delete(spark, spark.createDataFrame([(5,), (15,)], "id long"), ["id"])
    before = t.current_snapshot_id()
    dry = maintain(spark, t, rewrite_deletes_over=0.5, compact_under_mb=64,
                   keep_last=3, bloom_cols=["id"], dry_run=True)
    assert t.current_snapshot_id() == before  # dry-run is a no-op
    assert {r["action"] for r in dry} == {"report", "rewrite_deletes", "compact",
                                          "expire_snapshots", "build_file_blooms"}
    reports = maintain(spark, t, rewrite_deletes_over=0.5, compact_under_mb=64,
                       keep_last=3, bloom_cols=["id"])
    acts = {r["action"]: r for r in reports}
    assert acts["report"]["delete_entries_per_data_file"] > 0.5
    assert "snapshot" in acts["rewrite_deletes"] and "snapshot" in acts["compact"]
    # round 7: compact(bloom_cols=...) already built the new files' blooms
    # inside the compaction action, so the final BLOOMS step finds nothing
    # left to do — zero written here means covered, not skipped
    assert acts["build_file_blooms"]["written"] == 0
    assert sorted(r["id"] for r in t.read(spark).collect()) == [
        j for j in range(60) if j not in (5, 15)
    ]
    # post-maintenance read path: blooms built on the compacted file
    got = [r["id"] for r in t.read_pruned(spark, {"id": (42, 42)}).collect()]
    assert got == [42]
    assert len(t.snapshots()) <= 3


def test_update_where_rewrites_only_matching_files(spark, tmp_path):
    """Copy-on-write UPDATE (round 6): files without matches carry by
    reference, matches get the SET applied, file-mates survive unchanged,
    time travel sees the old values."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(i, f"s{i}", 1.0) for i in range(lo, lo + 100)], "id long, s string, v double"
            ).coalesce(1)
        )
    before = t.current_snapshot_id()
    files_before = t._load(before)["files"]
    v = t.update_where(spark, "id between 120 and 130", {"s": "'UPDATED'", "v": "v * 10"})
    m = t._load(v)
    assert m["operation"] == "update"
    untouched = [f for f in files_before if f in m["files"]]
    assert len(untouched) == 2  # only the middle file rewritten
    got = {r["id"]: (r["s"], r["v"]) for r in t.read(spark).collect()}
    assert got[125] == ("UPDATED", 10.0) and got[131] == ("s131", 1.0)
    assert got[50] == ("s50", 1.0) and len(got) == 300
    # time travel: pre-update snapshot unchanged
    old = {r["id"]: r["s"] for r in t.read(spark, snapshot_id=before).collect()}
    assert old[125] == "s125"
    # no-match update: same snapshot back, nothing written
    assert t.update_where(spark, "id = 99999", {"s": "'X'"}) == v
    # unknown column fails loudly
    import pytest as _pytest

    with _pytest.raises(KeyError, match="not in table schema"):
        t.update_where(spark, "id = 1", {"nope": "'x'"})


def test_update_where_respects_mor_deletes(spark, tmp_path):
    """Matching runs on the delete-applied view; deleted rows are not
    resurrected by the rewrite, and entries keep covering kept files."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, "a") for i in range(10)], "id long, s string").coalesce(1))
    t.append(spark.createDataFrame([(i, "a") for i in range(10, 20)], "id long, s string").coalesce(1))
    t.delete(spark, spark.createDataFrame([(5,), (15,)], "id long"), ["id"])
    t.update_where(spark, "id < 10", {"s": "'U'"})  # rewrites file 1 only
    got = {r["id"]: r["s"] for r in t.read(spark).collect()}
    assert 5 not in got and 15 not in got  # delete survived both paths
    assert got[3] == "U" and got[12] == "a"


def test_positional_delete_targets_one_of_identical_rows(spark, tmp_path):
    """Iceberg-v2 positional deletes (round 6): delete exactly ONE of two
    fully identical rows — inexpressible with equality deletes — with no
    data file rewritten; time travel intact."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    v1 = t.append(
        spark.createDataFrame([(1, "dup"), (1, "dup"), (2, "x")], "id long, s string").coalesce(1)
    )
    files_before = t._load(v1)["files"]
    v2 = t.delete_positions_where(spark, "id = 1 and _metadata.row_index = 0")
    assert t._load(v2)["files"] == files_before  # MoR: nothing rewritten
    got = sorted((r["id"], r["s"]) for r in t.read(spark).collect())
    assert got == [(1, "dup"), (2, "x")]  # exactly one copy survived
    assert t.read(spark, snapshot_id=v1).count() == 3


def test_positional_delete_coverage_and_lifecycle(spark, tmp_path):
    """Positions cover only files that contain them; later appends are
    untouched; matching runs on the delete-applied view (no re-delete);
    compact materializes; equality + positional entries compose."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1))
    t.append(spark.createDataFrame([(i,) for i in range(10, 20)], "id long").coalesce(1))
    v = t.delete_positions_where(spark, "id in (3, 4)")
    entry = t._load(v)["deletes"][-1]
    assert entry["kind"] == "position" and len(entry["applies_to"]) == 1
    t.append(spark.createDataFrame([(3,)], "id long").coalesce(1))  # re-insert
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 5, 6, 7, 8, 9] + list(range(10, 20))
    # second positional delete on the applied view: id=3 hits only the NEW row
    t.delete_positions_where(spark, "id = 3")
    assert sorted(r["id"] for r in t.read(spark).collect()) == [
        0, 1, 2, 5, 6, 7, 8, 9] + list(range(10, 20))
    # compose with an equality delete, then compact materializes both kinds
    t.delete(spark, spark.createDataFrame([(11,)], "id long"), ["id"])
    pre = sorted(r["id"] for r in t.read(spark).collect())
    vc = t.compact(spark, target_bytes=1 << 30)
    assert "deletes" not in t._load(vc)
    assert sorted(r["id"] for r in t.read(spark).collect()) == pre
    # no-match delete: same snapshot back
    head = t.current_snapshot_id()
    assert t.delete_positions_where(spark, "id = 12345") == head


def test_positional_delete_update_and_amplification(spark, tmp_path):
    """update_where reads through positional deletes; read_amplification
    counts positional entries like equality ones."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, "a") for i in range(10)], "id long, s string").coalesce(1))
    t.delete_positions_where(spark, "id = 7")
    assert t.read_amplification()["n_delete_entries"] == 1
    t.update_where(spark, "id < 3", {"s": "'U'"})
    got = {r["id"]: r["s"] for r in t.read(spark).collect()}
    assert 7 not in got and got[0] == "U" and got[5] == "a"


def test_positional_delete_composes_with_prior_equality_delete(spark, tmp_path):
    """Review r6 third pass: the advertised _metadata.row_index predicate
    must work when prior deletes split files into coverage groups (the
    hidden column doesn't resolve above the union — shadowed struct)."""
    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, "a") for i in range(10)], "id long, s string").coalesce(1))
    t.delete(spark, spark.createDataFrame([(2,)], "id long"), ["id"])  # splits groups
    t.append(spark.createDataFrame([(i, "b") for i in range(10, 20)], "id long, s string").coalesce(1))
    v = t.delete_positions_where(spark, "id < 20 and _metadata.row_index = 0")
    got = sorted(r["id"] for r in t.read(spark).collect())
    # row 0 of each file gone (ids 0 and 10), id 2 equality-deleted
    assert got == [1, 3, 4, 5, 6, 7, 8, 9] + list(range(11, 20))
    assert t._load(v)["deletes"][-1]["kind"] == "position"


def test_positional_delete_conflicts_on_concurrent_rewrite(spark, tmp_path):
    """Positions cannot rebase: a rewrite racing the commit must raise
    CommitConflict, never silently drop (or truncate) the deletions."""
    import pytest as _pytest

    from article_extraction_spark.catalog import CommitConflict, ManifestTable

    root = str(tmp_path / "t")
    t = ManifestTable(root)
    t.append(spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1))

    class RacedOnce(ManifestTable):
        """Racer fires right after the delete file is written — between
        position computation and the CAS commit (the RacedMerge pattern)."""

        raced = False

        def _write_data(self, df):
            files = super()._write_data(df)
            if not RacedOnce.raced:
                RacedOnce.raced = True
                ManifestTable(self.root).compact(spark, target_bytes=1 << 30)
            return files

    with _pytest.raises(CommitConflict, match="concurrent rewrite replaced"):
        RacedOnce(root).delete_positions_where(spark, "id = 3")
    # the table is untouched except the racer's compact
    assert sorted(r["id"] for r in ManifestTable(root).read(spark).collect()) == list(range(10))


def test_maintain_job_empty_table_reports(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable
    from jobs.maintain_table import maintain

    t = ManifestTable(str(tmp_path / "empty"))
    out = maintain(spark, t, rewrite_deletes_over=1.0, compact_under_mb=10, bloom_cols=["id"])
    assert out == [{"action": "report", "snapshots": 0, "empty": True}]


def test_stats_prune_date_column_non_utc_session(spark, tmp_path):
    """ADVICE r7 high: DATE-column stats are tz-free (UTC-midnight scale)
    while date box bounds were normalized at the SESSION zone — in any
    non-UTC session a file whose date range touches the box edge (daily
    one-file-per-date ingest, lo = that date) was silently dropped. Date
    bounds over date stats now compare timezone-free on both sides."""
    import datetime

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/Los_Angeles", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            t = ManifestTable(str(tmp_path / f"t-{tz.replace('/', '-')}"))
            # daily ingest: one file per date
            for day in range(1, 5):
                t.append(
                    spark.createDataFrame(
                        [(day, datetime.date(2026, 1, day))], "id long, d date"
                    ).coalesce(1)
                )
            box = {"d": (datetime.date(2026, 1, 2), datetime.date(2026, 1, 3))}
            got = sorted(r["id"] for r in t.read_pruned(spark, box).collect())
            assert got == [2, 3], (tz, got)  # edge files were dropped pre-fix
            # and pruning still skips: only the 2 in-box files are scanned
            keep, total = t.prune_files(box)
            assert total == 4 and len(keep) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stats_prune_datetime_bounds_on_date_column(spark, tmp_path):
    """Mixed kinds: a datetime box over a DATE column — Spark casts the
    column to timestamp at the session zone, an instant the tz-free
    stats can't pin down, so pruning widens by the max UTC offset instead
    of guessing. Equivalence with the residual read holds; files more
    than a day outside the box still prune."""
    import datetime

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        t = ManifestTable(str(tmp_path / "t"))
        for day in range(1, 11):
            t.append(
                spark.createDataFrame(
                    [(day, datetime.date(2026, 1, day))], "id long, d date"
                ).coalesce(1)
            )
        lo = datetime.datetime(2026, 1, 3, 12)
        hi = datetime.datetime(2026, 1, 4, 12)
        got = sorted(r["id"] for r in t.read_pruned(spark, {"d": (lo, hi)}).collect())
        want = sorted(
            r["id"]
            for r in t.read(spark)
            .where("d between timestamp '2026-01-03 12:00:00' and timestamp '2026-01-04 12:00:00'")
            .collect()
        )
        assert got == want and got  # non-empty and residual-equivalent
        keep, total = t.prune_files(
            {"d": (lo, hi)}, tz=spark.conf.get("spark.sql.session.timeZone")
        )
        assert total == 10 and len(keep) <= 4  # ±14h slop keeps ≤ 2 extra days
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stats_prune_legacy_statsfile_without_kind(spark, tmp_path):
    """Stats files written before the "kind" key existed get NO temporal
    pruning (comparison rules unknowable) but keep numeric pruning."""
    import datetime
    import json as _json

    t = ManifestTable(str(tmp_path / "t"))
    for day in (1, 20):
        t.append(
            spark.createDataFrame(
                [(day, datetime.date(2026, 1, day))], "id long, d date"
            ).coalesce(1)
        )
    # strip "kind" to simulate a pre-r7 stats file
    for f in t._load(t.current_snapshot_id())["files"]:
        p = os.path.join(t.root, os.path.dirname(f), "_stats.json")
        with open(p) as fh:
            ent = _json.load(fh)
        for e in ent.values():
            e.pop("kind", None)
        with open(p, "w") as fh:
            _json.dump(ent, fh)
    box = {"d": (datetime.date(2026, 1, 1), datetime.date(2026, 1, 2))}
    keep, total = t.prune_files(box)
    assert total == 2 and len(keep) == 2  # temporal: no pruning, all kept
    assert [r["id"] for r in t.read_pruned(spark, box).collect()] == [1]
    keep2, _ = t.prune_files({"id": (15, 25)})
    assert len(keep2) == 1  # numeric pruning still works on legacy stats


def test_bloom_probe_type_must_match_column_type(spark, tmp_path):
    """ADVICE r7 low: an int probe against a STRING column bloom-hashed
    "5" while the residual casts the column and matches "05" — a bloom
    false negative silently dropping files. Mismatched probe types now
    skip the bloom and fall through to stats + residual."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([("05", 1), ("7", 2)], "code string, id long").coalesce(1))
    t.build_file_blooms(spark, ["code", "id"])
    # int probe on string column: bloom skipped, cast semantics preserved
    got = sorted(r["id"] for r in t.read_pruned(spark, {"code": (5, 5)}).collect())
    assert got == [1]
    # str probe on int column: bloom skipped too ("02" vs Spark's "2")
    got2 = sorted(r["code"] for r in t.read_pruned(spark, {"id": (2, 2)}).collect())
    assert got2 == ["7"]
    # matched types still go through the bloom and prune; a string point
    # has no stats kind, so only the bloom decides
    keep, total = t.prune_files({"code": ("zzz", "zzz")})
    assert total == 1 and keep == []


def test_expire_snapshots_prunes_sidecar_entries(spark, tmp_path):
    """ADVICE r7 low: expiry removes dead files' _stats.json/_blooms.json
    entries and drops commit dirs left holding only sidecar JSON —
    streaming ingest + scheduled expiry must not accrete orphan
    metadata forever."""
    import json as _json

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(50)], "id long").coalesce(1))
    t.build_file_blooms(spark, ["id"])
    old_dirs = {os.path.dirname(f) for f in t._load(t.current_snapshot_id())["files"]}
    t.overwrite(spark.createDataFrame([(99,)], "id long").coalesce(1))
    t.append(spark.createDataFrame([(100,)], "id long").coalesce(1))
    res = t.expire_snapshots(keep_last=2)
    assert res["deleted_files"] >= 1
    # dead commit dirs are fully gone — no orphan sidecar-only dirs
    for d in old_dirs:
        assert not os.path.exists(os.path.join(t.root, d))
    # surviving dirs' sidecars hold entries only for live files
    for f in t._load(t.current_snapshot_id())["files"]:
        d = os.path.join(t.root, os.path.dirname(f))
        stats_p = os.path.join(d, "_stats.json")
        if os.path.exists(stats_p):
            with open(stats_p) as fh:
                ent = _json.load(fh)
            live = {n for n in os.listdir(d) if n.endswith(".parquet")}
            assert set(ent) <= live
    assert {r["id"] for r in t.read(spark).collect()} == {99, 100}


def test_compact_sort_by_keeps_skipping_power(spark, tmp_path):
    """VERDICT r6 #3: round-robin compaction scatters every key range
    across every output file — one scheduled compaction silently turned
    read_pruned into a full scan on sorted-ingest tables.
    compact(sort_by=...) re-clusters during the rewrite and (with
    bloom_cols) rebuilds the new files' blooms in the same action."""
    from pyspark.sql import functions as F

    def build(path):
        t = ManifestTable(str(path))
        rows = spark.range(0, 4000).select(F.col("id"), (F.col("id") % 97).alias("v"))
        for lo in (0, 1000, 2000, 3000):
            t.append(
                rows.where((F.col("id") >= lo) & (F.col("id") < lo + 1000))
                .repartitionByRange(4, "id")
                .sortWithinPartitions("id")
            )
        return t

    box = {"id": (1500, 1700)}

    # sorted ingest: 16 tight files, the box scans <= 2
    t = build(tmp_path / "sorted")
    keep0, total0 = t.prune_files(box)
    assert total0 == 16 and len(keep0) <= 2

    # plain compaction LOSES the clustering (documented hazard)
    t_plain = build(tmp_path / "plain")
    t_plain.compact(spark, target_bytes=16 * 1024)
    keep_p, total_p = t_plain.prune_files(box)
    assert total_p > 1 and len(keep_p) > 2  # de-clustered: box hits many files

    # sort-aware compaction keeps it, and the result is still correct
    v = t.compact(spark, target_bytes=16 * 1024, sort_by=["id"], bloom_cols=["id"])
    keep1, total1 = t.prune_files(box)
    assert total1 > 1  # genuinely multiple files after the rewrite
    assert len(keep1) <= max(2, len(keep0))  # skipping power preserved
    assert t.read_pruned(spark, box).count() == 201
    # blooms were rebuilt for the NEW files in the same action
    assert t.build_file_blooms(spark, ["id"], snapshot_id=v) == 0  # nothing left to do
    keep_eq, _ = t.prune_files({"id": (1234, 1234)})
    assert len(keep_eq) <= 2
    assert [r["id"] for r in t.read_pruned(spark, {"id": (1234, 1234)}).collect()] == [1234]

    with pytest.raises(KeyError, match="sort_by"):
        t.compact(spark, sort_by=["nope"])


def test_maintain_compact_sort_by(spark, tmp_path):
    """The maintenance ladder forwards --compact-sort-by (and bloom cols)
    into the compaction rewrite."""
    from pyspark.sql import functions as F

    from jobs.maintain_table import maintain

    t = ManifestTable(str(tmp_path / "t"))
    rows = spark.range(0, 2000).select(F.col("id"))
    for lo in (0, 500, 1000, 1500):
        t.append(
            rows.where((F.col("id") >= lo) & (F.col("id") < lo + 500))
            .repartitionByRange(2, "id")
            .sortWithinPartitions("id")
        )
    out = maintain(
        spark, t, compact_under_mb=10, compact_sort_by=["id"], bloom_cols=["id"]
    )
    compact_step = [o for o in out if o["action"] == "compact"][0]
    assert compact_step["sort_by"] == ["id"] and "snapshot" in compact_step
    keep, total = t.prune_files({"id": (600, 700)})
    assert total >= 1 and len(keep) <= max(1, total // 2)  # still clustered
    assert t.read_pruned(spark, {"id": (600, 700)}).count() == 101


def test_compact_zorder_by_multicolumn_skipping(spark, tmp_path):
    """compact(zorder_by=[a, b]): Morton re-clustering keeps BOX skipping
    over several columns via the per-commit stats — neither column's
    range is scattered across every output file."""
    from pyspark.sql import functions as F

    t = ManifestTable(str(tmp_path / "t"))
    rows = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"), (F.col("id") / 128).cast("long").alias("y")
    )
    t.append(rows.repartition(4))
    v = t.compact(spark, target_bytes=4 * 1024, zorder_by=["x", "y"])
    box = {"x": (10, 15), "y": (10, 15)}
    keep, total = t.prune_files(box)
    assert total >= 8 and len(keep) <= total // 2  # 2-D box skips most files
    assert t.read_pruned(spark, box).count() == 36
    with pytest.raises(ValueError, match="not both"):
        t.compact(spark, sort_by=["x"], zorder_by=["y"])
    with pytest.raises(KeyError, match="zorder_by"):
        t.compact(spark, zorder_by=["nope"])
    assert t.current_snapshot_id() == v


def test_vacuum_orphans(spark, tmp_path):
    """vacuum_orphans removes data files referenced by NO manifest
    (crashed writes), honors the in-flight grace window, and never
    touches referenced files."""
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(50)], "id long").coalesce(1))
    t.build_file_blooms(spark, ["id"])
    # simulate a crashed write: files exist, commit never happened
    orphan_files = t._write_data(
        spark.createDataFrame([(999,)], "id long").coalesce(1)
    )
    orphan_dir = os.path.dirname(os.path.join(t.root, orphan_files[0]))
    # fresh orphans are protected by the grace window
    res0 = t.vacuum_orphans(grace_seconds=3600)
    assert res0["removed"] == 0
    assert os.path.exists(os.path.join(t.root, orphan_files[0]))
    # age them out
    old = _time.time() - 7200
    for n in os.listdir(orphan_dir):
        os.utime(os.path.join(orphan_dir, n), (old, old))
    res1 = t.vacuum_orphans(grace_seconds=3600)
    assert res1["removed"] == 1
    assert not os.path.exists(os.path.join(t.root, orphan_files[0]))
    assert not os.path.exists(orphan_dir)  # sidecar-only dir swept
    # the live table is untouched and fully readable
    assert t.read(spark).count() == 50
    assert [r["id"] for r in t.read_pruned(spark, {"id": (7, 7)}).collect()] == [7]
    # idempotent
    assert t.vacuum_orphans(grace_seconds=3600)["removed"] == 0


def test_maintain_vacuum_step(spark, tmp_path):
    import time as _time

    from jobs.maintain_table import maintain

    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id long").coalesce(1))
    orphans = t._write_data(spark.createDataFrame([(2,)], "id long").coalesce(1))
    d = os.path.dirname(os.path.join(t.root, orphans[0]))
    old = _time.time() - 7200
    for n in os.listdir(d):
        os.utime(os.path.join(d, n), (old, old))
    out = maintain(spark, t, vacuum_orphans_hours=1.0)
    step = [o for o in out if o["action"] == "vacuum_orphans"][0]
    assert step["removed"] == 1
    assert t.read(spark).count() == 1


def test_changelog_view(spark, tmp_path):
    """changelog(): inserts from appends, deletes from MoR equality
    deletes, each computed against its own parent — re-deleting an
    already-deleted key emits nothing."""
    from pyspark.sql import functions as F

    t = ManifestTable(str(tmp_path / "t"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.delete(spark, spark.createDataFrame([(2,)], "id long"), ["id"])
    t.delete(spark, spark.createDataFrame([(2,)], "id long"), ["id"])  # no-op
    log = t.changelog(spark, v1)
    got = sorted((r["id"], r["s"], r["_change_type"]) for r in log.collect())
    assert got == [(2, "b", "delete"), (3, "c", "insert")]
    # net state replays: state(v1) + inserts - deletes == head
    head = {(r["id"], r["s"]) for r in t.read(spark).collect()}
    assert head == {(1, "a"), (3, "c")}
    # positional deletes are refused (ordinals can't be re-keyed)
    t.delete_positions_where(spark, F.col("id") == 1)
    with pytest.raises(ValueError, match="positional"):
        t.changelog(spark, v1).collect()


def test_file_blooms_probe_tinyint_smallint_columns(spark, tmp_path):
    """ADVICE r7: simpleString() names 8/16-bit ints 'tinyint'/'smallint';
    the old 'byte'/'short' gate entries never matched, so blooms over such
    columns were built but silently never probed (skipping power lost).
    Bloom pruning must now drop files for both widths."""
    from pyspark.sql import functions as F

    from article_extraction_spark.catalog import ManifestTable

    t = ManifestTable(str(tmp_path / "t"))
    for r in range(4):
        rows = [(i,) for i in range(r, 120, 4)]
        df = spark.createDataFrame(rows, "id int").select(
            F.col("id").cast("smallint").alias("sk"),
            F.col("id").cast("tinyint").alias("tk"),
        )
        t.append(df.coalesce(1))
    assert t.build_file_blooms(spark, ["sk", "tk"]) > 0
    for col in ("sk", "tk"):
        keep, total = t.prune_files({col: (37, 37)})
        assert total == 4 and 1 <= len(keep) <= 2, f"{col} bloom not probed"
        got = sorted(r[col] for r in t.read_pruned(spark, {col: (37, 37)}).collect())
        assert got == [37]


def _data_parquet(t: ManifestTable) -> set[str]:
    """Every parquet file under the table's data/ dir, relative to its root."""
    out = set()
    for d, _dirs, names in os.walk(os.path.join(t.root, "data")):
        out.update(
            os.path.relpath(os.path.join(d, n), t.root) for n in names if n.endswith(".parquet")
        )
    return out


@pytest.mark.parametrize("operation", ["append", "overwrite"])
def test_write_conflict_discards_its_data_files(spark, tmp_path, operation):
    """append and overwrite delete the data files they wrote when their
    retry loop gives up — a lost commit must not leave parquet that no
    manifest references (the same discard rule as every other writer)."""
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "k int"))
    schema = t._load(1)["schema"]

    class Stubborn(ManifestTable):
        def current_snapshot_id(self):
            real = super().current_snapshot_id()
            with open(self._manifest_path(real + 1), "x") as f:
                json.dump({"snapshot_id": real + 1, "parent": real,
                           "operation": "append", "files": [], "schema": schema}, f)
            return real

    before = _data_parquet(t)
    with pytest.raises(CommitConflict):
        getattr(Stubborn(t.root), operation)(spark.createDataFrame([(2,), (3,)], "k int"))
    referenced = {f for v in t.snapshots() for f in t._load(v)["files"]}
    assert _data_parquet(t) - before - referenced == set()


def _package_sites(match) -> set[tuple[str, str]]:
    """(file relative to the package, qualified name of the enclosing
    function) of every AST node in the package that ``match`` accepts."""
    import ast
    import pathlib

    import article_extraction_spark

    pkg = pathlib.Path(article_extraction_spark.__file__).parent
    out = set()

    def walk(node, rel, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                walk(child, rel, scope + [child.name])
                continue
            if match(child):
                out.add((rel, ".".join(scope)))
            walk(child, rel, scope)

    for path in pkg.rglob("*.py"):
        walk(ast.parse(path.read_text()), str(path.relative_to(pkg)), [])
    return out


def test_one_commit_point_and_one_atomic_writer():
    """Every snapshot is created by the one exclusive-create open in
    ManifestTable._try_commit, and every whole-file replace (the JSON
    sidecars, the --py-files zip) goes through catalog.write_atomic — no
    other os.replace in the package."""
    import ast

    def exclusive_open(call) -> bool:
        if not isinstance(call, ast.Call):
            return False
        mode = call.args[1] if len(call.args) > 1 else None
        mode = next((k.value for k in call.keywords if k.arg == "mode"), mode)
        return (
            isinstance(call.func, ast.Name)
            and call.func.id == "open"
            and isinstance(mode, ast.Constant)
            and "x" in str(mode.value)
        )

    def os_replace(call) -> bool:
        f = call.func if isinstance(call, ast.Call) else None
        return (
            isinstance(f, ast.Attribute)
            and f.attr == "replace"
            and isinstance(f.value, ast.Name)
            and f.value.id in ("os", "_os")
        )

    assert _package_sites(exclusive_open) == {("catalog.py", "ManifestTable._try_commit")}
    assert _package_sites(os_replace) == {("catalog.py", "write_atomic")}


def test_one_parquet_footer_reader():
    """Column stats come from one place: the per-commit ``_stats.json``
    that catalog._write_commit_stats builds from the parquet footers. No
    other module opens parquet through pyarrow (a second stats source is a
    second file-skipping planner)."""
    import ast

    def imports_pyarrow_parquet(node) -> bool:
        if isinstance(node, ast.Import):
            return any(a.name == "pyarrow.parquet" for a in node.names)
        if isinstance(node, ast.ImportFrom):
            return node.module == "pyarrow.parquet" or (
                node.module == "pyarrow" and any(a.name == "parquet" for a in node.names)
            )
        return False

    assert _package_sites(imports_pyarrow_parquet) == {("catalog.py", "_write_commit_stats")}


def _reads_parent(node) -> bool:
    """``m["parent"]`` or ``m.get("parent")``: a read of the manifest's
    parent key (the dict literal ``_try_commit`` writes is not a read)."""
    import ast

    if isinstance(node, ast.Subscript):
        return isinstance(node.slice, ast.Constant) and node.slice.value == "parent"
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "get"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "parent"
    )


def test_one_chain_walk_and_one_snapshot_resolver():
    """The parent chain is walked only by ManifestTable.history, and the
    empty-table error is raised only by ManifestTable._snapshot: every
    snapshot-window read, cursor lookup and default-to-head read goes
    through those two instead of a copy of them."""
    import ast

    def raises_no_snapshots(node) -> bool:
        return isinstance(node, ast.Raise) and any(
            isinstance(c, ast.Constant) and isinstance(c.value, str) and "no snapshots in" in c.value
            for c in ast.walk(node)
        )

    assert _package_sites(_reads_parent) == {("catalog.py", "ManifestTable.history")}
    assert _package_sites(raises_no_snapshots) == {("catalog.py", "ManifestTable._snapshot")}


def test_rollup_reads_manifests_only_through_history():
    """rollup.py neither loads a manifest itself nor follows its parent
    key: the manifest format stays behind ManifestTable."""
    import ast

    def loads_manifest(node) -> bool:
        return isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
            node.func.attr == "_load"
        )

    sites = _package_sites(lambda n: loads_manifest(n) or _reads_parent(n))
    assert not {s for s in sites if s[0] == "rollup.py"}, sites


def test_write_atomic_failure_keeps_the_previous_file(tmp_path):
    """A writer that raises part-way through leaves the previous file
    byte-identical and no ``.<name>.*`` temp file behind."""
    from article_extraction_spark.catalog import write_atomic, write_json_atomic

    path = tmp_path / "side.json"
    write_json_atomic(str(path), {"v": 1})
    before = path.read_bytes()

    def failing(fh):
        fh.write('{"v": 2, "partial"')
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        write_atomic(str(path), failing)
    assert path.read_bytes() == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["side.json"]


def test_manifest_layout_of_every_operation(spark, tmp_path):
    """Pins what each operation writes into its manifest: the key set and
    the operation, parent, files and deletes values. A file is named by
    the order in which its commit dir first appears ("d0", "d1", ...), so
    the pin does not depend on the random dir names or on how many part
    files one write produced."""
    t = ManifestTable(str(tmp_path / "tbl"))

    def rows(*ks):
        return spark.createDataFrame([(k, f"v{k}") for k in ks], "k long, v string").coalesce(1)

    t.append(rows(1, 2))  # 1
    t.append(rows(3, 4))  # 2
    t.delete(spark, rows(1), ["k"])  # 3
    t.append(rows(5))  # 4
    t.merge(spark, rows(2), ["k"])  # 5: rewrites the file holding k=2
    t.update_where(spark, "k = 5", {"v": "'five'"})  # 6
    t.delete_positions_where(spark, "k = 3")  # 7
    t.rewrite_deletes(spark)  # 8
    t.compact(spark)  # 9
    t._commit(  # 10
        t._write_data(rows(6)), "append", t._load(9)["schema"],
        extra_meta={"rollup_source_snapshot": 4},
    )
    t.overwrite(rows(9))  # 11
    t.rollback(7)  # 12: back to the positional delete

    labels: dict[str, str] = {}

    def names(files):
        dirs = [os.path.dirname(f) for f in files]
        for d in dirs:
            labels.setdefault(d, f"d{len(labels)}")
        return list(dict.fromkeys(labels[d] for d in dirs))

    got = {}
    for v in t.snapshots():
        m = t._load(v)
        files = names(m["files"])
        deletes = [
            (sorted(e), e.get("kind"), e["keys"], names(e["files"]), names(e["applies_to"]))
            for e in m.get("deletes", [])
        ]
        got[v] = (sorted(m), m["operation"], m["parent"], files, deletes)
    base = ["files", "operation", "parent", "schema", "snapshot_id", "ts"]
    with_deletes = sorted(base + ["deletes"])
    eq_keys = ["applies_to", "files", "keys", "schema"]
    eq_entry = (eq_keys, None, ["k"], ["d2"], ["d0", "d1"])
    eq_entry_on_d1 = (eq_keys, None, ["k"], ["d2"], ["d1"])
    pos_entry = (sorted(eq_keys + ["kind"]), "position", ["__dfile", "__dpos"], ["d6"], ["d1"])
    assert got == {
        1: (base, "append", None, ["d0"], []),
        2: (base, "append", 1, ["d0", "d1"], []),
        3: (with_deletes, "delete", 2, ["d0", "d1"], [eq_entry]),
        4: (with_deletes, "append", 3, ["d0", "d1", "d3"], [eq_entry]),
        5: (with_deletes, "merge", 4, ["d1", "d3", "d4"], [eq_entry_on_d1]),
        6: (with_deletes, "update", 5, ["d1", "d4", "d5"], [eq_entry_on_d1]),
        7: (with_deletes, "delete", 6, ["d1", "d4", "d5"], [eq_entry_on_d1, pos_entry]),
        8: (base, "rewrite_deletes", 7, ["d4", "d5", "d7"], []),
        9: (base, "compact", 8, ["d8"], []),
        10: (sorted(base + ["rollup_source_snapshot"]), "append", 9, ["d8", "d9"], []),
        11: (base, "overwrite", 10, ["d10"], []),
        12: (
            sorted(base + ["deletes", "rolled_back_to"]), "rollback", 11,
            ["d1", "d4", "d5"], [eq_entry_on_d1, pos_entry],
        ),
    }
    assert t._load(12)["rolled_back_to"] == 7
    assert t._load(10)["rollup_source_snapshot"] == 4


def test_unencodable_extra_meta_leaves_the_head_readable(tmp_path):
    """The manifest is serialized before its exclusive create: a value
    JSON cannot encode raises without leaving a truncated manifest that
    would become the unreadable head of the table."""
    from pyspark.sql import types as T

    t = ManifestTable(str(tmp_path / "tbl"))
    schema = T.StructType([T.StructField("k", T.IntegerType())]).json()
    assert t._commit([], "append", schema) == 1
    with pytest.raises(TypeError):
        t._commit([], "append", schema, extra_meta={"bad": object()})
    assert t.current_snapshot_id() == 1
    assert t._commit([], "append", schema) == 2
