"""sources/acid_lite.py: the transactional mechanics under test —
atomic exclusive commits, snapshot isolation over immutable files,
file-level copy-on-write pruning, time travel, delete semantics."""

from __future__ import annotations

import json
import os

import pytest

from datastore_mapper_spark.sources import acid_lite


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def test_commit_conflict_one_winner(spark, tdir):
    """Two writers racing to the same version: exactly one manifest
    lands; the loser raises CommitConflict and the winner's manifest
    is untouched."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite._commit(tdir, 2, ["data/x.parquet"], parent=1, op="test")
    with pytest.raises(acid_lite.CommitConflict):
        acid_lite._commit(tdir, 2, ["data/y.parquet"], parent=1, op="test")
    m = acid_lite._read_manifest(tdir, 2)
    assert m["files"] == ["data/x.parquet"]
    # a misspelt table key fails instead of carrying into every version
    with pytest.raises(TypeError, match="sort_ordr"):
        acid_lite._commit(tdir, 3, m["files"], parent=2, op="test",
                          sort_ordr=["k"])
    assert acid_lite.latest_version(tdir) == 2


def test_append_retries_past_conflict(spark, tdir):
    """append() must survive losing a version race by retrying on the
    new latest."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    # steal version 2 out from under the append
    acid_lite._commit(tdir, 2, acid_lite._read_manifest(tdir, 1)["files"],
                      parent=1, op="steal")
    v = acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    assert v == 3
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_snapshot_isolation_and_time_travel(spark, tdir):
    """A reader that resolved v1 keeps v1 even after a merge commits
    v2 (immutable files), and read(version=1) returns v1 forever."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    old_reader = acid_lite.read(spark, tdir)  # resolves v1 files NOW
    acid_lite.merge_upsert(
        spark, tdir, _df(spark, [(2, "B"), (3, "c")]), key="k"
    )
    assert {(r.k, r.v) for r in old_reader.collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir, 1).collect()} \
        == {(1, "a"), (2, "b")}
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_prunes_untouched_files(spark, tdir):
    """File-level copy-on-write: v1 files holding no matched key must
    appear VERBATIM in the v2 manifest (carried by reference, not
    rewritten) — the property that bounds a 100 TB merge to the files
    the CDC keys actually hit."""
    # two partitions split by key parity -> two disjoint file sets
    df = _df(spark, [(i, f"r{i}") for i in range(8)]).repartition(
        2, (acid_lite.F.col("k") % 2)
    )
    acid_lite.create_table(spark, tdir, df)
    v1_files = acid_lite._read_manifest(tdir, 1)["files"]
    assert len(v1_files) >= 2
    # source touches only ODD keys
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "X")]), key="k")
    v2_files = set(acid_lite._read_manifest(tdir, 2)["files"])
    carried = [f for f in v1_files if f in v2_files]
    rewritten = [f for f in v1_files if f not in v2_files]
    assert carried, "even-key file must carry over by reference"
    assert rewritten, "odd-key file must be rewritten"
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    want = {(i, f"r{i}") for i in range(8) if i != 1} | {(1, "X")}
    assert got == want


def test_merge_delete_flag(spark, tdir):
    """delete_col rows remove their matched target keys and are never
    inserted."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    src = spark.createDataFrame(
        [(2, "ignored", True), (4, "d", False)],
        "k bigint, v string, dead boolean",
    )
    acid_lite.merge_upsert(spark, tdir, src, key="k", delete_col="dead")
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (3, "c"), (4, "d")}


def test_manifest_is_json_with_lineage(spark, tdir):
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    m = json.loads(open(
        os.path.join(tdir, "manifests", "v2.json")).read())
    assert m["parent"] == 1 and m["op"] == "append"


def test_append_creates_missing_table(spark, tdir):
    """Round-10 ADVICE: append on a nonexistent table used to die with
    a bare FileNotFoundError for v0.json; it now creates the table
    (v1 through the same O_EXCL gate) with the frame's schema."""
    v = acid_lite.append(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    assert v == 1
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b")}
    # schema landed in the manifest so zero-file descendants stay readable
    assert "k bigint" in acid_lite._read_manifest(tdir, 1)["schema"]


def test_merge_missing_table_clear_error(spark, tdir):
    with pytest.raises(ValueError, match="does not exist"):
        acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "a")]), "k")


def test_merge_rejects_duplicate_source_keys(spark, tdir):
    """MERGE INTO semantics: more than one source row per key is an
    error, not a silent multi-insert (round-10 ADVICE)."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    dup = _df(spark, [(1, "x"), (1, "y"), (2, "z")])
    with pytest.raises(ValueError, match="duplicate"):
        acid_lite.merge_upsert(spark, tdir, dup, "k")
    # table unchanged — the failed merge committed nothing
    assert acid_lite.latest_version(tdir) == 1


def test_merge_touched_paths_resolve_against_manifest(spark, tdir):
    """The input_file_name() → manifest-relative resolution must map
    every matched scan file to a manifest entry (the guard added for
    the scheme-prefix bug); a normal merge exercises the assert path
    end to end, including rewritten-vs-carried file accounting."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(2, "B"), (3, "c")]), "k")
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_optimize_compacts_and_preserves_versions(spark, tdir):
    """OPTIMIZE commits a row-identical version with fewer files; the
    fragmented parent stays readable (copy-on-write, no in-place
    rewrite)."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).repartition(2))
    acid_lite.append(spark, tdir, _df(spark, [(3, "c"), (4, "d")]).repartition(2))
    pre = acid_lite.latest_version(tdir)
    n_before = len(acid_lite._read_manifest(tdir, pre)["files"])
    assert n_before == 4
    post = acid_lite.optimize(spark, tdir)
    assert post == pre + 1
    m = acid_lite._read_manifest(tdir, post)
    assert m["op"] == "optimize" and len(m["files"]) < n_before
    want = {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} == want
    assert {(r.k, r.v)
            for r in acid_lite.read(spark, tdir, version=pre).collect()} == want
    # already compact -> no empty commit
    assert acid_lite.optimize(spark, tdir) == post


def test_optimize_race_rebases_onto_concurrent_append(spark, tdir, monkeypatch):
    """Logical conflict detection (round 11): an append that lands
    between OPTIMIZE's snapshot read and its commit left every file
    OPTIMIZE compacted in place, so the compaction REBASES onto the
    new latest — both writers succeed, no data work redone, and the
    final snapshot holds the appended rows NEXT TO the compacted set
    (they were not part of the compaction input)."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).repartition(2))
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]).repartition(2))
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        files = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.append(spark, tdir, _df(spark, [(99, "w")]))
        return files

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    v = acid_lite.optimize(spark, tdir)
    assert acid_lite._read_manifest(tdir, v)["op"] == "optimize"
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (99, "w")}


def test_conflicting_file_edits_raise_concurrent_modification(
        spark, tdir, monkeypatch):
    """Two writers rewriting the SAME file cannot both rebase: the
    loser must raise ConcurrentModification (re-plan required), and
    the winner's state must be intact."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        files = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            # the racer deletes key 2 — rewriting the same file our
            # delete_where(k<=1) planned to rewrite
            acid_lite.delete_where(spark, tdir, "k", lo=2, hi=2)
        return files

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.delete_where(spark, tdir, "k", hi=1)
    # winner's delete landed; loser changed nothing
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a")}


def test_disjoint_deletes_both_commit_via_rebase(spark, tdir, monkeypatch):
    """Edits of DISJOINT files rebase past each other: a delete racing
    a delete of a different file commits without re-planning."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.append(
        spark, tdir, _df(spark, [(100, "x"), (200, "y")]).coalesce(1))
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        files = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where(spark, tdir, "k", lo=200)  # upper file
        return files

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    acid_lite.delete_where(spark, tdir, "k", hi=1)  # lower file
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(2, "b"), (100, "x")}


def test_manifest_stats_and_pruned_read(spark, tdir):
    """Commits fold parquet-footer min/max into the manifest; pruning
    selects only overlapping files and read_pruned stays row-identical
    to read().filter()."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (5, "b")]))
    acid_lite.append(spark, tdir, _df(spark, [(100, "c"), (200, "d")]))
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    stats = m["stats"]
    assert stats, "commit recorded no stats"
    # every NON-EMPTY data file has a k range recorded (zero-row part
    # files carry only their ::rows footer count)
    assert all("k" in s for s in stats.values()
               if s.get("::rows", 1) > 0)
    assert any("k" in s for s in stats.values())
    sel, total = acid_lite.prune_files(tdir, "k", hi=10)
    assert total == len(m["files"]) and 0 < len(sel) < total
    got = {(r.k, r.v)
           for r in acid_lite.read_pruned(spark, tdir, "k", hi=10).collect()}
    assert got == {(1, "a"), (5, "b")}
    # range matching nothing: zero files, schema-stable empty frame
    none_df = acid_lite.read_pruned(spark, tdir, "k", lo=1000)
    assert none_df.count() == 0 and none_df.schema == acid_lite.read(spark, tdir).schema
    # files without stats for the column are always kept (soundness)
    for s in stats.values():
        s.pop("k", None)
    import json as _json
    with open(acid_lite._manifest_path(
            tdir, acid_lite.latest_version(tdir)), "w") as f:
        f.write(_json.dumps(m))
    sel2, total2 = acid_lite.prune_files(tdir, "k", hi=10)
    assert len(sel2) == total2


def test_delete_where_prunes_and_drops_unread(spark, tdir):
    """DELETE by range: wholly-in-range files drop without a read,
    boundary files rewrite, out-of-range files carry by reference."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.append(spark, tdir, _df(spark, [(10, "c"), (20, "d")]))
    acid_lite.append(spark, tdir, _df(spark, [(100, "e"), (200, "f")]))
    pre = acid_lite.latest_version(tdir)
    pre_m = acid_lite._read_manifest(tdir, pre)
    upper = [f for f in pre_m["files"]
             if ((pre_m["stats"].get(f) or {}).get("k") or [0])[0] >= 100]
    post = acid_lite.delete_where(spark, tdir, "k", hi=15)
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(20, "d"), (100, "e"), (200, "f")}
    post_files = acid_lite._read_manifest(tdir, post)["files"]
    # the untouched upper file carried by reference (same path)
    assert set(upper) <= set(post_files)
    # time travel to the pre-delete version still sees everything
    assert acid_lite.read(spark, tdir, version=pre).count() == 6
    # unbounded delete empties the table but stays readable
    acid_lite.delete_where(spark, tdir, "k")
    assert acid_lite.read(spark, tdir).count() == 0


def test_append_evolve_widens_schema(spark, tdir):
    """Additive evolution: new columns read back NULL for old files;
    retyping refuses."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    evolved = spark.createDataFrame(
        [(2, "b", 9.5)], "k bigint, v string, score double")
    acid_lite.append_evolve(spark, tdir, evolved)
    rows = {(r.k, r.v, r.score)
            for r in acid_lite.read(spark, tdir).collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}
    bad = spark.createDataFrame([("x", "y")], "k string, v string")
    with pytest.raises(ValueError, match="retype"):
        acid_lite.append_evolve(spark, tdir, bad)
    # a frame may also OMIT columns: they read back NULL
    acid_lite.append_evolve(
        spark, tdir, spark.createDataFrame([(3,)], "k bigint"))
    got = {(r.k, r.v, r.score)
           for r in acid_lite.read(spark, tdir).collect()}
    assert (3, None, None) in got


def test_expire_snapshots_removes_only_orphans(spark, tdir):
    """VACUUM deletes expired manifests + files no retained version
    references; shared files survive; expired versions stop
    resolving."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]))          # v2
    acid_lite.delete_where(spark, tdir, "k", lo=1, hi=1)           # v3
    v3_files = acid_lite._read_manifest(tdir, 3)["files"]
    stats = acid_lite.expire_snapshots(tdir, keep_from=3)
    assert stats["manifests_removed"] == 2
    assert stats["files_removed"] >= 1  # v1's rewritten file is orphaned
    for f in v3_files:
        assert os.path.exists(os.path.join(tdir, f))
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(2, "b"), (3, "c")}
    with pytest.raises(FileNotFoundError):
        acid_lite.read(spark, tdir, version=1)
    with pytest.raises(ValueError):
        acid_lite.expire_snapshots(tdir, keep_from=99)


def test_append_idempotent_txn_dedup(spark, tdir):
    """The Delta txnAppId protocol: the same txn tag commits at most
    once; different tags append normally; re-delivery returns the
    original version without evaluating the frame."""
    v1 = acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(1, "a")]), txn_id="batch-0")
    assert v1 == 1
    # re-delivery: same tag, DIFFERENT (even empty) frame — no-op
    v_again = acid_lite.append_idempotent(
        spark, tdir, _df(spark, []), txn_id="batch-0")
    assert v_again == 1 and acid_lite.latest_version(tdir) == 1
    v2 = acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(2, "b")]), txn_id="batch-1")
    assert v2 == 2
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b")}
    # a non-txn commit in between must not break the chain walk
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]))
    assert acid_lite.append_idempotent(
        spark, tdir, _df(spark, []), txn_id="batch-1") == 2


def test_optimize_zorder_prunes_both_dimensions(spark, tdir):
    """ZORDER + manifest stats: after clustering on the Morton
    interleave, range pruning must be selective on BOTH columns —
    single-column sort can only deliver one."""
    from pyspark.sql import functions as F

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("bigint").alias("b"),
        F.col("id").alias("payload"),
    ).repartition(8)  # key-shuffled: no natural order
    acid_lite.create_table(spark, tdir, df)
    v = acid_lite.optimize_zorder(spark, tdir, "a", "b", n_files=8)
    assert acid_lite._read_manifest(tdir, v)["op"] == "optimize-zorder"
    sel_a, total = acid_lite.prune_files(tdir, "a", hi=7)
    sel_b, _ = acid_lite.prune_files(tdir, "b", hi=7)
    assert total >= 4
    assert 0 < len(sel_a) < total, (len(sel_a), total)
    assert 0 < len(sel_b) < total, (len(sel_b), total)
    # row identity through the clustered rewrite
    got = acid_lite.read_pruned(spark, tdir, "a", hi=7).count()
    want = df.filter(F.col("a") <= 7).count()
    assert got == want


def test_change_data_feed_classifies_and_cancels_carries(spark, tdir):
    """CDF from manifest file deltas: inserts/deletes/update images
    classify correctly; rows merely carried through a rewritten file
    (co-located with a change, themselves untouched) must NOT appear;
    schema-evolution columns backfill NULL on pre-images."""
    from pyspark.sql import functions as F

    # one file holds keys 1..4 (k%2 groups them 2+2); merge touches
    # only key 1, so keys co-located with it are carried via rewrite
    df = _df(spark, [(i, f"r{i}") for i in range(1, 5)]).coalesce(1)
    acid_lite.create_table(spark, tdir, df)
    src = spark.createDataFrame(
        [(1, "X", False), (9, "new", False), (3, "ignored", True)],
        "k bigint, v string, dead boolean")
    acid_lite.merge_upsert(spark, tdir, src, key="k", delete_col="dead")
    cdf = acid_lite.change_data_feed(spark, tdir, "k", 1, 2)
    got = {(r.k, r.v, r._change_type) for r in cdf.collect()}
    assert got == {
        (1, "r1", "update_preimage"),
        (1, "X", "update_postimage"),
        (9, "new", "insert"),
        (3, "r3", "delete"),
    }, got
    # schema evolution: a new column appears as an update when non-null
    acid_lite.append_evolve(
        spark, tdir,
        spark.createDataFrame([(50, "e", 1.5)],
                              "k bigint, v string, score double"))
    cdf2 = acid_lite.change_data_feed(spark, tdir, "k", 2, 3)
    rows = {(r.k, r._change_type) for r in cdf2.collect()}
    assert rows == {(50, "insert")}
    assert "score" in cdf2.columns


def test_read_incremental_offsets_exactly_once(spark, tdir):
    """Version-offset streaming reads: consecutive increments are
    disjoint, union to the table, and a non-append commit in the
    range refuses with a pointer to change_data_feed."""
    for i in range(3):
        acid_lite.append(spark, tdir, _df(spark, [(i, f"v{i}")]))
    inc1 = {(r.k, r.v)
            for r in acid_lite.read_incremental(spark, tdir, 0, 1).collect()}
    inc2 = {(r.k, r.v)
            for r in acid_lite.read_incremental(spark, tdir, 1, 3).collect()}
    assert inc1 == {(0, "v0")} and inc2 == {(1, "v1"), (2, "v2")}
    assert not acid_lite.read_incremental(spark, tdir, 3, 3).count()
    acid_lite.delete_where(spark, tdir, "k", hi=0)  # v4 removes a file
    with pytest.raises(ValueError, match="change_data_feed"):
        acid_lite.read_incremental(spark, tdir, 3, 4)


def test_count_rows_metadata_only_and_fallback(spark, tdir):
    """COUNT(*) from manifest ::rows entries alone; a manifest missing
    an entry (pre-stats commit) falls back to reading just that file
    and reports metadata_only=False."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]))
    n, meta = acid_lite.count_rows(spark, tdir)
    assert (n, meta) == (3, True)
    n1, meta1 = acid_lite.count_rows(spark, tdir, version=1)
    assert (n1, meta1) == (2, True)
    # simulate a legacy manifest: strip one file's stats entry
    v = acid_lite.latest_version(tdir)
    m = acid_lite._read_manifest(tdir, v)
    victim = m["files"][0]
    m["stats"].pop(victim, None)
    with open(acid_lite._manifest_path(tdir, v), "w") as f:
        f.write(json.dumps(m))
    n2, meta2 = acid_lite.count_rows(spark, tdir)
    assert n2 == 3 and meta2 is False


def test_replace_where_atomic_backfill(spark, tdir):
    """replaceWhere: one commit swaps a key range for the replacement
    frame; out-of-range replacement rows refuse; untouched files carry
    by reference; time travel sees the pre-backfill data."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.append(spark, tdir, _df(spark, [(100, "x"), (200, "y")]))
    pre = acid_lite.latest_version(tdir)
    upper = [f for f in acid_lite._read_manifest(tdir, pre)["files"]
             if ((acid_lite._read_manifest(tdir, pre)["stats"].get(f)
                  or {}).get("k") or [0])[0] >= 100]
    v = acid_lite.replace_where(
        spark, tdir, "k", 0, 10, _df(spark, [(5, "NEW")]))
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(5, "NEW"), (100, "x"), (200, "y")}
    post_files = acid_lite._read_manifest(tdir, v)["files"]
    assert set(upper) <= set(post_files)  # carried by reference
    assert acid_lite.read(spark, tdir, version=pre).count() == 4
    with pytest.raises(ValueError, match="outside"):
        acid_lite.replace_where(
            spark, tdir, "k", 0, 10, _df(spark, [(99, "bad")]))


def test_txn_dedup_survives_interleaving_and_expiry(spark, tdir):
    """The txn map is carried through NON-txn commits and survives
    snapshot expiry — re-delivery of an ancient batch stays a no-op
    even after its manifest was vacuumed (the Delta keep-txn-state-in-
    snapshot rationale)."""
    acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(1, "a")]), txn_id="batch-0")
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))  # plain commit
    acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(3, "c")]), txn_id="batch-1")
    acid_lite.delete_where(spark, tdir, "k", lo=2, hi=2)   # non-append
    latest = acid_lite.latest_version(tdir)
    acid_lite.expire_snapshots(tdir, keep_from=latest)
    # batch-0's manifest is gone; the tag must still dedup
    v = acid_lite.append_idempotent(
        spark, tdir, _df(spark, []), txn_id="batch-0")
    assert v == 1 and acid_lite.latest_version(tdir) == latest
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (3, "c")}


def test_deletion_vectors_merge_on_read(spark, tdir):
    """Merge-on-read DELETE: positions land in a sidecar, DATA FILES
    ARE UNTOUCHED, reads anti-join them out, metadata COUNT subtracts
    them, stacking works, CoW ops refuse until OPTIMIZE purges."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(i, f"r{i}") for i in range(1, 7)])
        .coalesce(2))
    v1_files = acid_lite._read_manifest(tdir, 1)["files"]
    v2 = acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=3)
    m2 = acid_lite._read_manifest(tdir, v2)
    assert m2["files"] == v1_files          # no data file rewritten
    assert m2["dvs"] and m2["dv_rows"] == 2
    got = {r.k for r in acid_lite.read(spark, tdir).collect()}
    assert got == {1, 4, 5, 6}
    assert acid_lite.count_rows(spark, tdir) == (4, True)
    # time travel: pre-delete snapshot has no DVs applied
    assert acid_lite.read(spark, tdir, version=1).count() == 6
    # stacked DV delete accumulates; overlap is not double-counted
    v3 = acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=4)
    assert acid_lite._read_manifest(tdir, v3)["dv_rows"] == 3
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1, 5, 6}
    # CoW ops refuse while DVs are live
    with pytest.raises(ValueError, match="deletion vectors"):
        acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "X")]), "k")
    with pytest.raises(ValueError, match="deletion vectors"):
        acid_lite.delete_where(spark, tdir, "k", hi=1)
    # a DV delete matching nothing new is a no-op (no empty commit)
    assert acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=4) == v3
    # appends carry DVs forward
    v4 = acid_lite.append(spark, tdir, _df(spark, [(9, "z")]))
    assert acid_lite._read_manifest(tdir, v4)["dv_rows"] == 3
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {1, 5, 6, 9}
    # OPTIMIZE purges: clean rewrite, dvs dropped, rows identical
    v5 = acid_lite.optimize(spark, tdir)
    m5 = acid_lite._read_manifest(tdir, v5)
    assert not m5.get("dvs") and not m5.get("dv_rows")
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {1, 5, 6, 9}
    assert acid_lite.count_rows(spark, tdir) == (4, True)
    # CoW works again after the purge
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "X")]), "k")
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "X"), (5, "r5"), (6, "r6"), (9, "z")}


def test_dv_read_builds_without_jobs(spark, tdir):
    """Building :func:`read` on a DV table runs no job before an action:
    the sidecars are read with their declared layout, not
    schema-inferred, and that layout is the one parquet infers."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(i, f"r{i}") for i in range(1, 7)])
        .coalesce(2))
    v = acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=3)
    dvs = acid_lite._read_manifest(tdir, v)["dvs"]
    sc = spark.sparkContext
    group = "acid_dv_read_build"
    sc.setJobGroup(group, "DV read build")
    try:
        df = acid_lite.read(spark, tdir)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group) or []) == []
    assert {r.k for r in df.collect()} == {1, 4, 5, 6}
    inferred = spark.read.parquet(
        *[os.path.join(tdir, d) for d in dvs]).schema
    assert acid_lite._read_dvs(spark, tdir, dvs).schema == inferred


def test_dv_read_resolves_its_files_once(spark, tdir, monkeypatch):
    """A read of a DV table builds only the anti-joined scan: the data
    files are resolved by one ``_load_files`` call, not by a plain scan
    that is then discarded."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(i, f"r{i}") for i in range(1, 7)])
        .coalesce(2))
    acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=3)
    calls = []
    real = acid_lite._load_files
    monkeypatch.setattr(acid_lite, "_load_files",
                        lambda *a, **k: calls.append(a) or real(*a, **k))
    df = acid_lite.read(spark, tdir)
    assert len(calls) == 1
    assert {r.k for r in df.collect()} == {1, 4, 5, 6}


def test_deletion_vectors_in_change_data_feed(spark, tdir):
    """CDF across a DV commit: the file set is unchanged, so the
    deletes come from the DV DELTA, resolved back to row content;
    rows a prior DV already removed never re-report."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
        .coalesce(1))
    acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=2)   # v2
    cdf = acid_lite.change_data_feed(spark, tdir, "k", 1, 2)
    assert {(r.k, r.v, r._change_type) for r in cdf.collect()} \
        == {(2, "b", "delete")}
    acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)   # v3
    cdf2 = acid_lite.change_data_feed(spark, tdir, "k", 2, 3)
    assert {(r.k, r.v, r._change_type) for r in cdf2.collect()} \
        == {(3, "c", "delete")}
    # full range: both deletes, each exactly once
    cdf3 = acid_lite.change_data_feed(spark, tdir, "k", 1, 3)
    assert {(r.k, r._change_type) for r in cdf3.collect()} \
        == {(2, "delete"), (3, "delete")}


def test_zorder_purges_deletion_vectors(spark, tdir):
    """OPTIMIZE ZORDER over a DV-carrying snapshot (round-11 ADVICE):
    read() applied the vectors, so the clustered rewrite must PURGE
    them — dangling vectors would make count_rows undercount and keep
    CoW ops refusing forever."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame(
            [(i, i % 7, f"r{i}") for i in range(1, 21)],
            "k bigint, g bigint, v string").coalesce(2))
    acid_lite.delete_where_dv(spark, tdir, "k", lo=5, hi=8)
    v = acid_lite.optimize_zorder(spark, tdir, "k", "g", n_files=2)
    m = acid_lite._read_manifest(tdir, v)
    assert not m.get("dvs") and not m.get("dv_rows")
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == set(range(1, 21)) - {5, 6, 7, 8}
    assert acid_lite.count_rows(spark, tdir) == (16, True)
    # CoW works again after the purge
    acid_lite.merge_upsert(
        spark, tdir,
        spark.createDataFrame([(1, 0, "X")], "k bigint, g bigint, v string"),
        "k")
    assert {r.v for r in acid_lite.read(spark, tdir).collect()
            if r.k == 1} == {"X"}


def test_rebase_conflicts_on_concurrent_dv_delete(spark, tdir, monkeypatch):
    """A concurrent delete_where_dv removes NO files, so file-set
    comparison alone cannot see it — the rebase must detect the DV
    delta and raise ConcurrentModification instead of silently
    resurrecting the concurrently-deleted rows (round-11 ADVICE)."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        files = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)
        return files

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    with pytest.raises(acid_lite.ConcurrentModification, match="deletion"):
        acid_lite.delete_where(spark, tdir, "k", hi=1)
    # the DV delete (winner) is intact; the loser changed nothing
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1, 2}
    # re-running against the new snapshot refuses cleanly (live DVs)
    with pytest.raises(ValueError, match="deletion vectors"):
        acid_lite.delete_where(spark, tdir, "k", hi=1)


def test_cdf_dv_on_file_added_within_range(spark, tdir):
    """A file appended AND THEN DV-deleted within (from, to] must not
    emit its dead rows as inserts — they do not exist at `to`
    (round-11 ADVICE).  Live rows of the same file still insert."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a")]).coalesce(1))          # v1
    acid_lite.append(
        spark, tdir, _df(spark, [(2, "b"), (3, "c")]).coalesce(1))  # v2
    acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)         # v3
    cdf = acid_lite.change_data_feed(spark, tdir, "k", 1, 3)
    got = {(r.k, r._change_type) for r in cdf.collect()}
    assert got == {(2, "insert")}  # 3 appeared and died inside the range


def test_append_idempotent_reclaims_orphans(spark, tdir, monkeypatch):
    """A worker that writes its data files, then finds its txn already
    committed by a concurrent deliverer, must reclaim the
    never-referenced files (round-11 ADVICE: nothing else ever would)."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    orig_commit = acid_lite._commit
    state = {"raced": False}

    def racing_commit(path, version, files, parent, op, **kw):
        if not state["raced"]:
            state["raced"] = True
            # the concurrent deliverer lands the SAME txn first
            acid_lite.append_idempotent(
                spark, tdir, _df(spark, [(2, "b")]), txn_id="batch-7")
            raise acid_lite.CommitConflict("simulated version race")
        return orig_commit(path, version, files, parent, op, **kw)

    monkeypatch.setattr(acid_lite, "_commit", racing_commit)
    v = acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(2, "b")]), txn_id="batch-7")
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert v == acid_lite.latest_version(tdir)
    # every parquet on disk is referenced by SOME manifest — no orphans
    on_disk = set()
    for root, _dirs, fnames in os.walk(os.path.join(tdir, "data")):
        for fn in fnames:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, fn), tdir))
    referenced = set()
    for mv in range(1, acid_lite.latest_version(tdir) + 1):
        referenced.update(acid_lite._read_manifest(tdir, mv)["files"])
    assert on_disk <= referenced
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "b")}
    _ = m


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string, day bigint")


def test_partitioned_create_read_prune(spark, tdir):
    """Partitioned create: hive-layout files, per-file partition
    values in the manifest, partition columns re-attached on read,
    and partition-pruned reads that provably skip files."""
    acid_lite.create_table(
        spark, tdir,
        _pdf(spark, [(i, f"r{i}", i % 3) for i in range(12)]).coalesce(2),
        partition_by=["day"])
    m = acid_lite._read_manifest(tdir, 1)
    assert m["partition_by"] == ["day"]
    assert all("day=" in f for f in m["files"])
    # every file's manifest partition value matches its path, and the
    # value is injected into stats as an exact [v, v] range
    for f in m["files"]:
        v = m["partitions"][f]["day"]
        assert f"day={v}/" in f
        assert m["stats"][f]["day"] == [int(v), int(v)]
    r = acid_lite.read(spark, tdir)
    assert r.columns == ["k", "v", "day"]
    got = {(x.k, x.v, x.day) for x in r.collect()}
    assert got == {(i, f"r{i}", i % 3) for i in range(12)}
    # partition pruning is exact: only day=1 files selected
    sel, total = acid_lite.prune_files(tdir, "day", 1, 1)
    assert total == len(m["files"])
    assert sel and all("day=1/" in f for f in sel)
    rp = acid_lite.read_pruned(spark, tdir, "day", 1, 1)
    assert {x.k for x in rp.collect()} == {1, 4, 7, 10}


def test_partitioned_null_and_string_values(spark, tdir):
    """NULL partition values round-trip through hive's
    __HIVE_DEFAULT_PARTITION__ sentinel; string values with spaces
    survive the %-escape round trip."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b c"), (3, None)], "k bigint, cat string")
    acid_lite.create_table(spark, tdir, df, partition_by=["cat"])
    got = {(r.k, r.cat) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b c"), (3, None)}


def test_replace_partitions_dynamic_overwrite(spark, tdir):
    """Dynamic-partition overwrite: exactly the partitions present in
    the batch are replaced (their old files drop by manifest math,
    zero extra Spark jobs); untouched partitions carry by reference."""
    acid_lite.create_table(
        spark, tdir,
        _pdf(spark, [(i, "old", i % 3) for i in range(9)]).coalesce(1),
        partition_by=["day"])
    m1 = acid_lite._read_manifest(tdir, 1)
    carried = [f for f in m1["files"] if "day=2/" in f]
    v = acid_lite.replace_partitions(
        spark, tdir,
        _pdf(spark, [(100, "new", 0), (101, "new", 1)]))
    m2 = acid_lite._read_manifest(tdir, v)
    # day=2 files carried verbatim; day=0 / day=1 files all replaced
    assert set(carried) <= set(m2["files"])
    assert not [f for f in m2["files"]
                if f in set(m1["files"]) and "day=2" not in f]
    got = {(r.k, r.v, r.day) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(100, "new", 0), (101, "new", 1),
                   (2, "old", 2), (5, "old", 2), (8, "old", 2)}
    # time travel still shows the pre-overwrite contents
    assert acid_lite.read(spark, tdir, 1).count() == 9
    # unpartitioned tables refuse
    flat = tdir + "_flat"
    acid_lite.create_table(spark, flat, _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="not partitioned"):
        acid_lite.replace_partitions(spark, flat, _df(spark, [(2, "b")]))


def test_replace_partitions_race(spark, tdir, monkeypatch):
    """A concurrent append into a REPLACED partition must conflict (its
    file would be silently clobbered by the overwrite's rebase
    otherwise is wrong — the append's file is NOT in the overwrite's
    touched set, so it survives alongside: verify both rows land);
    a concurrent rewrite OF a replaced file raises."""
    acid_lite.create_table(
        spark, tdir, _pdf(spark, [(1, "old", 0), (2, "old", 1)]),
        partition_by=["day"])
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        out = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            # concurrent DELETE rewrites the day=0 file the overwrite
            # is about to replace -> ConcurrentModification
            acid_lite.delete_where(spark, tdir, "k", lo=1, hi=1)
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.replace_partitions(
            spark, tdir, _pdf(spark, [(100, "new", 0)]))
    # winner's delete landed intact
    got = {(r.k, r.day) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(2, 1)}


def test_partitioned_merge_delete_dv_optimize(spark, tdir):
    """The rest of the op surface composes with partitioning: CoW
    MERGE rewrites only touched partitions' files, delete_where drops
    whole partitions unread, DV deletes + OPTIMIZE purge keep the
    hive layout, and reads always re-attach the partition columns."""
    acid_lite.create_table(
        spark, tdir,
        _pdf(spark, [(i, "base", i % 3) for i in range(12)]).coalesce(1),
        partition_by=["day"])
    m1 = acid_lite._read_manifest(tdir, 1)
    v2 = acid_lite.merge_upsert(
        spark, tdir, _pdf(spark, [(0, "UPD", 0), (99, "INS", 1)]), "k")
    m2 = acid_lite._read_manifest(tdir, v2)
    # day=2 files untouched by the merge: carried by reference
    assert {f for f in m1["files"] if "day=2/" in f} <= set(m2["files"])
    r = acid_lite.read(spark, tdir)
    assert {x.v for x in r.filter("k = 0").collect()} == {"UPD"}
    assert r.count() == 13
    # whole-partition delete drops files unread (stats = exact [v,v])
    v3 = acid_lite.delete_where(spark, tdir, "day", lo=2, hi=2)
    m3 = acid_lite._read_manifest(tdir, v3)
    assert not [f for f in m3["files"] if "day=2/" in f]
    assert acid_lite.read(spark, tdir).count() == 9
    # DV delete then OPTIMIZE purge, partition columns intact
    acid_lite.delete_where_dv(spark, tdir, "k", lo=99, hi=99)
    assert acid_lite.count_rows(spark, tdir) == (8, True)
    v5 = acid_lite.optimize(spark, tdir)
    m5 = acid_lite._read_manifest(tdir, v5)
    assert not m5.get("dvs") and all("day=" in f for f in m5["files"])
    got = acid_lite.read(spark, tdir)
    assert got.count() == 8 and got.columns == ["k", "v", "day"]


def test_merge_three_way_mechanisms(spark, tdir):
    """Three-way MERGE picks the cheapest mechanism per file: matched
    files rewrite (stale rows drop inside the rewrite), carried files
    wholly in the NMBS scope drop from the manifest UNREAD, boundary
    files take deletion vectors proportional to their stale rows."""
    for lo in (0, 10, 20, 30):  # four disjoint range files
        rows = _df(spark, [(i, "base") for i in range(lo, lo + 10)])
        if lo == 0:
            acid_lite.create_table(spark, tdir, rows.coalesce(1))
        else:
            acid_lite.append(spark, tdir, rows.coalesce(1))
    m1 = acid_lite._read_manifest(tdir, 4)
    src = spark.createDataFrame(
        [(35, "U", False), (37, "x", True), (99, "INS", False)],
        "k bigint, v string, _del boolean")
    v = acid_lite.merge_three_way(
        spark, tdir, src, "k", delete_col="_del",
        nmbs_scope=("k", None, 15))
    m = acid_lite._read_manifest(tdir, v)
    # file 0-9 wholly in scope: dropped without a read
    f09 = [f for f in m1["files"]
           if m1["stats"][f]["k"] == [0, 9]]
    assert f09 and not set(f09) & set(m["files"])
    # file 10-19 straddles the boundary: carried verbatim + DV (6 rows)
    f1019 = [f for f in m1["files"] if m1["stats"][f]["k"] == [10, 19]]
    assert set(f1019) <= set(m["files"])
    assert m["dvs"] and m["dv_rows"] == 6
    # file 20-29 untouched, out of scope: carried with no vectors
    f2029 = [f for f in m1["files"] if m1["stats"][f]["k"] == [20, 29]]
    assert set(f2029) <= set(m["files"])
    # file 30-39 held matched keys: rewritten
    f3039 = [f for f in m1["files"] if m1["stats"][f]["k"] == [30, 39]]
    assert not set(f3039) & set(m["files"])
    got = sorted((r.k, r.v) for r in acid_lite.read(spark, tdir).collect())
    exp = sorted([(k, "base") for k in list(range(16, 35)) + [36, 38, 39]]
                 + [(35, "U"), (99, "INS")])
    assert got == exp
    assert acid_lite.count_rows(spark, tdir) == (24, True)
    # OPTIMIZE purges the merge's vectors; contents stable
    acid_lite.optimize(spark, tdir)
    assert sorted((r.k, r.v)
                  for r in acid_lite.read(spark, tdir).collect()) == exp


def test_merge_three_way_conflicts_on_concurrent_dv(spark, tdir,
                                                    monkeypatch):
    """A concurrent merge-on-read DELETE landing during a three-way
    merge must conflict (the merge planned against a DV-free
    snapshot)."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    orig = acid_lite._write_files
    state = {"raced": False}

    def racing(df, path, **kw):
        out = orig(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing)
    with pytest.raises(acid_lite.ConcurrentModification, match="deletion"):
        acid_lite.merge_three_way(
            spark, tdir, _df(spark, [(1, "UPD")]), "k")
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1, 2}


def test_timestamp_as_of_and_tags(spark, tdir):
    """TIMESTAMP AS OF resolves the latest version committed at or
    before a wall clock; tags name versions immutably and read through
    the normal snapshot path."""
    import time as _t

    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    t1 = _t.time()
    _t.sleep(0.02)
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    t2 = _t.time()
    _t.sleep(0.02)
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]))
    assert acid_lite.version_as_of(tdir, t1) == 1
    assert acid_lite.version_as_of(tdir, t2) == 2
    assert acid_lite.version_as_of(tdir, _t.time()) == 3
    assert {r.k for r in acid_lite.read_as_of(spark, tdir, t2).collect()} \
        == {1, 2}
    with pytest.raises(ValueError, match="no retained version"):
        acid_lite.version_as_of(tdir, t1 - 3600)
    # tags: name a version, read through it, immutability enforced
    assert acid_lite.create_tag(tdir, "audit-2024Q1", version=2) == 2
    assert acid_lite.list_tags(tdir) == {"audit-2024Q1": 2}
    assert {r.k for r in
            acid_lite.read_tag(spark, tdir, "audit-2024Q1").collect()} \
        == {1, 2}
    with pytest.raises(FileExistsError):
        acid_lite.create_tag(tdir, "audit-2024Q1", version=3)
    with pytest.raises(ValueError, match="unknown tag"):
        acid_lite.read_tag(spark, tdir, "nope")
    with pytest.raises(FileNotFoundError):
        acid_lite.create_tag(tdir, "future", version=99)


def test_partition_transforms_hidden_bucket_truncate_month(spark, tdir):
    """Iceberg-style hidden partitioning: transform specs derive the
    hive dir value while the SOURCE column stays in the data files;
    point lookups bucket-prune, monotone transforms range-prune, and
    rewrites preserve the layout."""
    import datetime as dt

    df = spark.createDataFrame(
        [(i, f"r{i}", dt.datetime(1995, 1 + i % 4, 1 + i % 25))
         for i in range(32)],
        "k bigint, v string, ts timestamp")
    acid_lite.create_table(spark, tdir, df.coalesce(2),
                           partition_by=["bucket(4, k)"])
    m = acid_lite._read_manifest(tdir, 1)
    assert m["partition_by"] == ["bucket(4, k)"]
    assert all("k_bucket4=" in f for f in m["files"])
    r = acid_lite.read(spark, tdir)
    assert set(r.columns) == {"k", "v", "ts"}  # source col in data
    assert r.count() == 32
    # equality lookup prunes to one bucket; ranges cannot bucket-prune
    sel, total = acid_lite.prune_files_source(tdir, "k", 7, 7)
    assert sel and len(sel) < total
    assert all("k_bucket4=3/" in f for f in sel)
    assert {x.k for x in acid_lite._load_files(
        spark, tdir, m, sel).filter("k = 7").collect()} == {7}
    # CoW merge keeps the transform layout
    acid_lite.merge_upsert(
        spark, tdir,
        spark.createDataFrame(
            [(7, "UPD", dt.datetime(1995, 1, 1))],
            "k bigint, v string, ts timestamp"), "k")
    m2 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert all("k_bucket4=" in f for f in m2["files"])
    assert {x.v for x in acid_lite.read(spark, tdir)
            .filter("k = 7").collect()} == {"UPD"}
    # truncate: monotone range mapping
    t2 = tdir + "_tr"
    acid_lite.create_table(spark, t2, df.coalesce(1),
                           partition_by=["truncate(8, k)"])
    sel2, tot2 = acid_lite.prune_files_source(t2, "k", 3, 10)
    assert sel2 and len(sel2) < tot2
    assert all(("k_trunc8=0/" in f) or ("k_trunc8=8/" in f) for f in sel2)
    # month on timestamps
    t3 = tdir + "_mo"
    acid_lite.create_table(spark, t3, df.coalesce(1),
                           partition_by=["month(ts)"])
    sel3, tot3 = acid_lite.prune_files_source(
        t3, "ts", dt.datetime(1995, 2, 1), dt.datetime(1995, 2, 28))
    assert sel3 and len(sel3) < tot3
    assert all("ts_month=1995-02/" in f for f in sel3)
    got = acid_lite._load_files(
        spark, t3, acid_lite._read_manifest(t3, 1), sel3)
    assert got.count() == 8  # the 1995-02 rows, nothing else
    # unknown transform refuses loudly
    with pytest.raises(ValueError, match="unsupported partition"):
        acid_lite.create_table(
            spark, tdir + "_bad",
            spark.createDataFrame([(1,)], "k bigint"),
            partition_by=["year(k)"])


def test_merge_composite_keys(spark, tdir):
    """MERGE with a multi-column key (the common real-format ON
    clause): matching is on the (k1, k2) pair, duplicate detection
    counts distinct key structs, and the three-way variant composes."""
    df = spark.createDataFrame(
        [(1, "a", "v1"), (1, "b", "v2"), (2, "a", "v3"), (2, "b", "v4")],
        "k1 bigint, k2 string, v string")
    acid_lite.create_table(spark, tdir, df.coalesce(1))
    src = spark.createDataFrame(
        [(1, "b", "UPD"), (3, "a", "INS")], "k1 bigint, k2 string, v string")
    acid_lite.merge_upsert(spark, tdir, src, key=["k1", "k2"])
    got = {(r.k1, r.k2, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a", "v1"), (1, "b", "UPD"), (2, "a", "v3"),
                   (2, "b", "v4"), (3, "a", "INS")}
    # duplicate composite keys refuse (same k1 alone is NOT a dup)
    dup = spark.createDataFrame(
        [(9, "x", "p"), (9, "x", "q")], "k1 bigint, k2 string, v string")
    with pytest.raises(ValueError, match="duplicate"):
        acid_lite.merge_upsert(spark, tdir, dup, key=["k1", "k2"])
    ok = spark.createDataFrame(
        [(9, "x", "p"), (9, "y", "q")], "k1 bigint, k2 string, v string")
    acid_lite.merge_upsert(spark, tdir, ok, key=["k1", "k2"])
    assert acid_lite.read(spark, tdir).count() == 7
    # three-way merge with composite key + scoped NMBS delete
    src3 = spark.createDataFrame(
        [(1, "a", "UPD3", False)],
        "k1 bigint, k2 string, v string, _del boolean")
    acid_lite.merge_three_way(
        spark, tdir, src3, key=["k1", "k2"], delete_col="_del",
        nmbs_scope=("k1", None, 1))
    got = {(r.k1, r.k2, r.v) for r in acid_lite.read(spark, tdir).collect()}
    # k1<=1 scope: only (1,a) in source -> (1,b) stale-deleted
    assert got == {(1, "a", "UPD3"), (2, "a", "v3"), (2, "b", "v4"),
                   (3, "a", "INS"), (9, "x", "p"), (9, "y", "q")}


def test_remove_orphan_files(spark, tdir, monkeypatch):
    """Orphans from a conflict-aborted rewrite are reclaimed by the
    Iceberg-style sweep; referenced files and files inside the grace
    window survive."""
    import time

    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    # manufacture a conflict-aborted delete: the loser wrote its
    # survivor files, then raised ConcurrentModification
    orig = acid_lite._write_files
    state = {"raced": False}

    def racing(df, path, **kw):
        out = orig(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=2)
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing)
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.delete_where(spark, tdir, "k", hi=1)
    monkeypatch.setattr(acid_lite, "_write_files", orig)

    def on_disk():
        out = set()
        for sub in ("data", "dv"):
            for root, _d, fns in os.walk(os.path.join(tdir, sub)):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        out.add(os.path.relpath(
                            os.path.join(root, fn), tdir))
        return out

    referenced = set()
    for v in range(1, acid_lite.latest_version(tdir) + 1):
        m = acid_lite._read_manifest(tdir, v)
        referenced.update(m["files"])
        referenced.update(m.get("dvs") or [])
    orphans = on_disk() - referenced
    assert orphans  # the aborted rewrite really stranded files
    # inside the grace window: nothing is swept
    r0 = acid_lite.remove_orphan_files(tdir, grace_seconds=3600)
    assert r0["files_removed"] == 0 and orphans <= on_disk()
    # past the grace window: exactly the orphans go
    r1 = acid_lite.remove_orphan_files(tdir, grace_seconds=0)
    assert r1["files_removed"] >= len(orphans)
    assert on_disk() == referenced - {f for f in referenced
                                      if not os.path.exists(
                                          os.path.join(tdir, f))}
    # table still reads correctly (winner's DV delete intact)
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1}
    _ = time


def test_failed_or_fileless_write_leaves_no_directory(spark, tdir,
                                                      tmp_path):
    """A write whose job fails, and a write that yields no data file,
    remove their never-referenced ``data/<uuid>/`` directory: ``data/``
    and ``dv/`` hold only directories the latest manifest references."""
    from pyspark.sql import functions as F

    def unreferenced(t):
        m = acid_lite._read_manifest(t, acid_lite.latest_version(t))
        live = {os.path.join(*f.split("/")[:2])
                for f in m["files"] + (m.get("dvs") or [])}
        return {os.path.join(sub, d) for sub in ("data", "dv")
                if os.path.isdir(os.path.join(t, sub))
                for d in os.listdir(os.path.join(t, sub))} - live

    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]).coalesce(1))
    # the error fires inside the write job, after Spark made the dir
    bad = spark.range(2, 3).select(
        F.col("id").alias("k"),
        F.when(F.col("id") > 0, F.raise_error(F.lit("boom")))
        .otherwise(F.lit("x")).alias("v"))
    with pytest.raises(Exception, match="boom"):
        acid_lite.append(spark, tdir, bad)
    assert acid_lite.latest_version(tdir) == 1
    assert unreferenced(tdir) == set()
    # an empty batch writes no partition dir, only Spark's _SUCCESS
    t2 = str(tmp_path / "parts")
    acid_lite.create_table(spark, t2, _pdf(spark, [(1, "a", 0)]),
                           partition_by=["day"])
    assert acid_lite.replace_partitions(spark, t2, _pdf(spark, [])) == 1
    assert unreferenced(t2) == set()


def test_describe_history(spark, tdir):
    """DESCRIBE HISTORY lists retained versions newest-first with op,
    counts, metadata-only row counts and txn tags."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.append_idempotent(
        spark, tdir, _df(spark, [(3, "c")]), txn_id="batch-1")
    acid_lite.delete_where_dv(spark, tdir, "k", lo=2, hi=2)
    h = acid_lite.describe_history(tdir)
    assert [e["version"] for e in h] == [3, 2, 1]
    assert [e["op"] for e in h] == ["delete-dv", "append", "create"]
    assert h[0]["n_rows"] == 2 and h[1]["n_rows"] == 3
    assert h[1]["txn"] == "batch-1"
    assert h[0]["n_dvs"] == 1 and h[2]["n_dvs"] == 0
    assert all(e["ts"] is not None for e in h)
    # expiry drops rows from the listing
    acid_lite.expire_snapshots(tdir, keep_from=2)
    assert [e["version"] for e in acid_lite.describe_history(tdir)] == [3, 2]


def test_schema_evolution_composes_with_partitioning(spark, tdir):
    """append_evolve on partitioned tables: the widened schema and the
    hive layout coexist — old files read NULL for new columns while
    identity partition columns still re-attach from the paths, and
    transform tables keep their derived dirs."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, "a", 0), (2, "b", 1)],
                              "k bigint, v string, day bigint"),
        partition_by=["day"])
    acid_lite.append_evolve(
        spark, tdir,
        spark.createDataFrame([(3, "c", 0, 9.5)],
                              "k bigint, v string, day bigint, score double"))
    r = acid_lite.read(spark, tdir)
    assert r.columns == ["k", "v", "day", "score"]
    assert sorted((x.k, x.day, x.score) for x in r.collect()) == [
        (1, 0, None), (2, 1, None), (3, 0, 9.5)]
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert all("day=" in f for f in m["files"])
    # bucket-transform table: layout preserved through evolution
    t2 = tdir + "_bkt"
    acid_lite.create_table(
        spark, t2, spark.createDataFrame([(1, "a")], "k bigint, v string"),
        partition_by=["bucket(4, k)"])
    acid_lite.append_evolve(
        spark, t2,
        spark.createDataFrame([(2, "b", 7)],
                              "k bigint, v string, extra bigint"))
    assert sorted((x.k, x.extra)
                  for x in acid_lite.read(spark, t2).collect()) == [
        (1, None), (2, 7)]
    m2 = acid_lite._read_manifest(t2, 2)
    assert all("k_bucket4=" in f for f in m2["files"])


# ---------------------------------------------------------------- spec evolution


def test_set_partition_spec_metadata_only(spark, tdir):
    """Evolving the partition spec must be a metadata-only commit:
    the file list is IDENTICAL (zero rewrites), op is set-spec, the
    old files are tagged with the implicit spec "1", and the default
    moves to the new spec."""
    acid_lite.create_table(
        spark, tdir, _pdf(spark, [(1, "a", 0), (2, "b", 1)]),
        partition_by=["day"])
    m1 = acid_lite._read_manifest(tdir, 1)
    v = acid_lite.set_partition_spec(tdir, ["bucket(4, k)"])
    assert v == 2
    m2 = acid_lite._read_manifest(tdir, 2)
    assert m2["op"] == "set-spec"
    assert m2["files"] == m1["files"]
    assert m2["specs"] == {"1": ["day"], "2": ["bucket(4, k)"]}
    assert m2["default_spec"] == "2"
    assert set(m2["file_spec"].values()) == {"1"}
    # reads are unchanged across the boundary
    got = {(r.k, r.v, r.day) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a", 0), (2, "b", 1)}


def test_spec_evolution_mixed_read_and_prune(spark, tdir):
    """After identity->bucket evolution: generation-1 files re-attach
    the identity column from dir names, generation-2 files carry it
    in data pages, the union loses nothing, and each generation
    prunes by its OWN layout."""
    acid_lite.create_table(
        spark, tdir,
        _pdf(spark, [(i, "g1", i % 3) for i in range(6)]).coalesce(1),
        partition_by=["day"])
    acid_lite.set_partition_spec(tdir, ["bucket(4, k)"])
    acid_lite.append(
        spark, tdir,
        _pdf(spark, [(i, "g2", i % 3) for i in range(100, 108)])
        .coalesce(1))
    got = {(r.k, r.v, r.day)
           for r in acid_lite.read(spark, tdir).collect()}
    assert got == ({(i, "g1", i % 3) for i in range(6)}
                   | {(i, "g2", i % 3) for i in range(100, 108)})
    m = acid_lite._read_manifest(tdir, 3)
    fs = m["file_spec"]
    assert {fs[f] for f in m["files"]} == {"1", "2"}
    # bucket prune: equality on a generation-2 key keeps only that
    # key's bucket among generation-2 files (g1 files fall back to
    # min/max stats and are excluded there: their k-max is 5)
    sel, total = acid_lite.prune_files_source(tdir, "k", 101, 101)
    assert 0 < len(sel) < total
    assert all(f"k_bucket4={101 % 4}/" in f
               for f in sel if fs[f] == "2")
    rows = acid_lite.read_pruned(spark, tdir, "k", 101, 101).collect()
    assert [(r.k, r.v) for r in rows] == [(101, "g2")]
    # identity prune: day=0 excludes generation-1 files for other days
    sel_d, _ = acid_lite.prune_files_source(tdir, "day", 0, 0)
    g1_sel = [f for f in sel_d if fs[f] == "1"]
    assert g1_sel and all("day=0/" in f for f in g1_sel)


def _lose_races(monkeypatch, land, every: bool = False) -> dict:
    """Patch ``_commit`` so that its first call (each call, with
    ``every``) runs ``land()`` — a concurrent commit that lands first —
    and then loses the version race.  Commits made by ``land`` itself
    go through.  Returns the counter of lost races."""
    orig = acid_lite._commit
    state = {"landing": False, "lost": 0}

    def racing(path, version, files, parent, op, **kw):
        if state["landing"] or (state["lost"] and not every):
            return orig(path, version, files, parent, op, **kw)
        state["landing"] = True
        try:
            land()
        finally:
            state["landing"] = False
        state["lost"] += 1
        raise acid_lite.CommitConflict(
            f"version {version} lost to a concurrent commit")

    monkeypatch.setattr(acid_lite, "_commit", racing)
    return state


_RACED_OPS = ("set_partition_spec", "rename_column", "widen_column_type",
              "add_column_default", "drop_column", "add_check_constraint",
              "drop_constraint", "restore_table", "build_bloom_index",
              "set_sort_order", "write_ndv_sketches", "append_evolve")


@pytest.mark.parametrize("op", _RACED_OPS)
def test_every_commit_replans_after_a_lost_race(spark, tdir, monkeypatch,
                                                op):
    """A concurrent append landing between an op's plan and its commit
    is never lost: the op re-plans on the new latest, commits one
    version later, and its own effect reads back.  restore_table
    replaces the snapshot by contract, so its table reads the
    target's rows.  Set-spec also tags the appended file with the
    spec that wrote it (the pre-evolution one)."""
    mk = lambda rows, ddl="k bigint, v int": spark.createDataFrame(
        rows, ddl).coalesce(1)
    acid_lite.create_table(spark, tdir, mk([(1, 10)]))
    if op == "drop_constraint":
        acid_lite.add_check_constraint(spark, tdir, "pos", "v > 0")
    elif op == "restore_table":
        acid_lite.append(spark, tdir, mk([(5, 50)]))
    v = acid_lite.latest_version(tdir)
    lost = _lose_races(
        monkeypatch, lambda: acid_lite.append(spark, tdir, mk([(2, 20)])))
    if op == "set_partition_spec":
        got = acid_lite.set_partition_spec(tdir, ["bucket(2, k)"])
    elif op == "rename_column":
        got = acid_lite.rename_column(tdir, "v", "w")
    elif op == "widen_column_type":
        got = acid_lite.widen_column_type(tdir, "v", "bigint")
    elif op == "add_column_default":
        got = acid_lite.add_column_default(tdir, "d", "int", 7)
    elif op == "drop_column":
        got = acid_lite.drop_column(tdir, "v")
    elif op == "add_check_constraint":
        got = acid_lite.add_check_constraint(spark, tdir, "pos", "v > 0")
    elif op == "drop_constraint":
        got = acid_lite.drop_constraint(tdir, "pos")
    elif op == "restore_table":
        got = acid_lite.restore_table(tdir, version=1)
    elif op == "build_bloom_index":
        got = acid_lite.build_bloom_index(spark, tdir, "k")
    elif op == "set_sort_order":
        got = acid_lite.set_sort_order(tdir, ["v"])
    elif op == "write_ndv_sketches":
        got = acid_lite.write_ndv_sketches(spark, tdir, "k")
    else:
        got = acid_lite.append_evolve(
            spark, tdir, mk([(3, 30, 9)], "k bigint, v int, x bigint"))
    assert lost["lost"] == 1 and got == v + 2
    assert acid_lite.latest_version(tdir) == got
    m = acid_lite._read_manifest(tdir, got)
    rows = acid_lite.read(spark, tdir).collect()
    if op == "restore_table":
        assert m["restore_of"] == 1
        assert {(r.k, r.v) for r in rows} == {(1, 10)}
        return
    assert {1, 2} <= {r.k for r in rows}  # the concurrent row survives
    if op == "set_partition_spec":
        assert m["specs"]["1"] == []
        assert m["specs"][m["default_spec"]] == ["bucket(2, k)"]
        assert set(m["file_spec"].values()) == {"1"}
    elif op == "rename_column":
        assert {r.k: r.w for r in rows} == {1: 10, 2: 20}
    elif op == "widen_column_type":
        assert m["schema"] == "k bigint, v bigint"
        assert {r.k: r.v for r in rows} == {1: 10, 2: 20}
    elif op == "add_column_default":
        assert {r.k: r.d for r in rows} == {1: 7, 2: 7}
    elif op == "drop_column":
        assert all("v" not in r.asDict() for r in rows)
    elif op == "add_check_constraint":
        assert m["constraints"] == {"pos": "v > 0"}
    elif op == "drop_constraint":
        assert not m.get("constraints")
    elif op == "build_bloom_index":
        assert set(m["bloom_index"]["k"]) == set(m["files"])
        files, _ = acid_lite.prune_files_bloom(None, tdir, "k", 2)
        assert len(files) == 1
    elif op == "set_sort_order":
        assert m["sort_order"] == ["v"]
    elif op == "write_ndv_sketches":
        assert acid_lite.table_ndv(spark, tdir, "k") == (2, True)
    else:
        assert {r.k: r.x for r in rows} == {1: None, 2: None, 3: 9}


def test_commit_gives_up_after_losing_every_race(spark, tdir, monkeypatch):
    """An op that loses every version race raises CommitConflict after
    ``_RETRIES + 1`` attempts and commits nothing of its own; every
    concurrent commit that beat it stays."""
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v int")
    acid_lite.create_table(spark, tdir, mk([(1, 10)]))
    lost = _lose_races(
        monkeypatch, lambda: acid_lite.append(spark, tdir, mk([(2, 20)])),
        every=True)
    with pytest.raises(acid_lite.CommitConflict, match="lost 4 races"):
        acid_lite.set_sort_order(tdir, ["v"])
    assert lost["lost"] == acid_lite._RETRIES + 1
    latest = acid_lite.latest_version(tdir)
    assert latest == 1 + lost["lost"]
    assert not acid_lite._read_manifest(tdir, latest).get("sort_order")


def test_add_check_constraint_validates_the_rows_it_commits_on(
        spark, tdir, monkeypatch):
    """A violating row that lands while the constraint is being added
    is validated too: after the lost race the constraint re-checks the
    new snapshot and refuses, so no version ever declares a CHECK its
    rows break."""
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    acid_lite.create_table(spark, tdir, mk([(1, 5)]))
    _lose_races(monkeypatch,
                lambda: acid_lite.append(spark, tdir, mk([(2, -5)])))
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.add_check_constraint(spark, tdir, "pos", "v > 0")
    assert acid_lite.latest_version(tdir) == 2
    assert not acid_lite._read_manifest(tdir, 2).get("constraints")


def test_set_sort_order_checks_the_schema_it_commits_on(
        spark, tdir, monkeypatch):
    """A column dropped while a sort order naming it is being set
    makes the sort order fail: the column check runs on the manifest
    the commit lands on, so no version names a column its schema
    lacks (optimize_sorted would then fail on it)."""
    acid_lite.create_table(spark, tdir, spark.createDataFrame(
        [(1, 2, 3)], "k bigint, a bigint, b bigint"))
    _lose_races(monkeypatch, lambda: acid_lite.drop_column(tdir, "a"))
    with pytest.raises(ValueError, match="unknown sort columns"):
        acid_lite.set_sort_order(tdir, ["a"])
    assert acid_lite.latest_version(tdir) == 2
    assert not acid_lite._read_manifest(tdir, 2).get("sort_order")


def test_spec_evolution_composes_with_rewrites(spark, tdir):
    """delete_where over a spec-evolved table: survivors of rewritten
    generation-1 files are REWRITTEN UNDER THE CURRENT spec (Iceberg:
    rewrites adopt the default spec) and re-tagged; untouched files
    keep their original tag.  Evolving back to flat works too."""
    acid_lite.create_table(
        spark, tdir,
        _pdf(spark, [(i, "x", i % 2) for i in range(8)]).coalesce(1),
        partition_by=["day"])
    acid_lite.set_partition_spec(tdir, ["bucket(2, k)"])
    v = acid_lite.delete_where(spark, tdir, "k", lo=0, hi=0)
    m = acid_lite._read_manifest(tdir, v)
    fs = m["file_spec"]
    rewritten = [f for f in m["files"] if fs[f] == "2"]
    assert rewritten and all("k_bucket2=" in f for f in rewritten)
    got = {r.k for r in acid_lite.read(spark, tdir).collect()}
    assert got == set(range(1, 8))
    # back to flat: appends stop partitioning, reads still union fine
    acid_lite.set_partition_spec(tdir, [])
    acid_lite.append(spark, tdir, _pdf(spark, [(100, "flat", 9)]))
    m2 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    flat = [f for f in m2["files"]
            if m2["file_spec"][f] == m2["default_spec"]]
    assert flat and all("=" not in f for f in flat)
    got2 = {r.k for r in acid_lite.read(spark, tdir).collect()}
    assert got2 == set(range(1, 8)) | {100}


def test_set_partition_spec_noop_and_validation(spark, tdir):
    """Re-declaring the current spec is a no-op (no new version); an
    unknown source column fails loudly; re-declaring a HISTORICAL
    spec reuses its spec id instead of minting a duplicate."""
    acid_lite.create_table(spark, tdir, _pdf(spark, [(1, "a", 0)]),
                           partition_by=["day"])
    assert acid_lite.set_partition_spec(tdir, ["day"]) == 1  # no-op
    with pytest.raises(ValueError):
        acid_lite.set_partition_spec(tdir, ["bucket(4, nope)"])
    v2 = acid_lite.set_partition_spec(tdir, ["bucket(4, k)"])
    v3 = acid_lite.set_partition_spec(tdir, ["day"])  # back: reuse "1"
    m = acid_lite._read_manifest(tdir, v3)
    assert v2 == 2 and v3 == 3
    assert m["default_spec"] == "1"
    assert m["specs"] == {"1": ["day"], "2": ["bucket(4, k)"]}


# ---------------------------------------------------------------- column mapping


def test_rename_column_metadata_only(spark, tdir):
    """rename is a metadata-only commit: identical file list, logical
    schema updated, mapping records new->physical, reads resolve both
    pre- and post-rename files through the one physical name, and
    stats pruning on the NEW name still prunes (it routes through the
    physical name the footers were written with)."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.append(spark, tdir, _df(spark, [(10, "c")]).coalesce(1))
    m_pre = acid_lite._read_manifest(tdir, 2)
    v = acid_lite.rename_column(tdir, "k", "key_id")
    m = acid_lite._read_manifest(tdir, v)
    assert m["op"] == "rename-column"
    assert m["files"] == m_pre["files"]
    assert m["mapping"] == {"key_id": "k"}
    assert "key_id bigint" in m["schema"] and "k bigint" not in m["schema"]
    got = {(r.key_id, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b"), (10, "c")}
    # post-rename append writes the PHYSICAL column; reads still unify
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(20, "d")], "key_id bigint, v string").coalesce(1))
    got2 = {r.key_id for r in acid_lite.read(spark, tdir).collect()}
    assert got2 == {1, 2, 10, 20}
    # pruning on the logical name maps to physical footer stats
    sel, total = acid_lite.prune_files(tdir, "key_id", 10, 10)
    assert 0 < len(sel) < total
    rows = acid_lite.read_pruned(spark, tdir, "key_id", 10, 10).collect()
    assert [(r.key_id, r.v) for r in rows] == [(10, "c")]


def test_drop_column_and_safe_readd(spark, tdir):
    """drop is metadata-only; a later re-add of the same logical name
    maps to a fresh physical name, so pre-add rows read NULL instead
    of resurrecting the dropped pages' values."""
    acid_lite.create_table(
        spark, tdir, spark.createDataFrame(
            [(1, "a", 9.5), (2, "b", 8.0)],
            "k bigint, v string, score double").coalesce(1))
    v = acid_lite.drop_column(tdir, "score")
    m = acid_lite._read_manifest(tdir, v)
    assert m["op"] == "drop-column"
    assert m["dropped_physical"] == ["score"]
    assert "score" not in m["schema"]
    assert acid_lite.read(spark, tdir).columns == ["k", "v"]
    # re-add: same logical name, fresh physical name
    acid_lite.append_evolve(spark, tdir, spark.createDataFrame(
        [(3, "c", 100.0)], "k bigint, v string, score double").coalesce(1))
    m2 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    phys = m2["mapping"]["score"]
    assert phys != "score" and phys.startswith("score_")
    got = {(r.k, r.score) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, None), (2, None), (3, 100.0)}


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, w bigint, day bigint")


#: op -> (run it on the table, the (k, w) rows it must read back).
#: Each runs after create (1,10),(4,40) + append (2,20) under ``v``,
#: rename v -> w and append (3,30) under ``w``: three small files whose
#: k ranges overlap, so every op rewrites them.
_RENAMED_REWRITES = {
    "optimize": (lambda s, t: acid_lite.optimize(s, t), None),
    "optimize_binpack": (
        lambda s, t: acid_lite.optimize_binpack(
            s, t, target_file_bytes=10**7), None),
    "optimize_where": (
        lambda s, t: acid_lite.optimize_where(s, t, {"day": 0}), None),
    "optimize_zorder": (
        lambda s, t: acid_lite.optimize_zorder(s, t, "k", "w", n_files=2),
        None),
    "optimize_sorted": (
        lambda s, t: (acid_lite.set_sort_order(t, ["k"]),
                      acid_lite.optimize_sorted(s, t, n_files=2)), None),
    "optimize_sorted_incremental": (
        lambda s, t: (acid_lite.set_sort_order(t, ["k"]),
                      acid_lite.optimize_sorted_incremental(s, t)), None),
    "delete_where": (
        lambda s, t: acid_lite.delete_where(s, t, "w", lo=40, hi=40),
        {(1, 10), (2, 20), (3, 30)}),
    "replace_where": (
        lambda s, t: acid_lite.replace_where(
            s, t, "k", 2, 2, _kv(s, [(2, 200, 0)])),
        {(1, 10), (2, 200), (3, 30), (4, 40)}),
    "merge_upsert": (
        lambda s, t: acid_lite.merge_upsert(
            s, t, _kv(s, [(2, 200, 0), (9, 90, 0)]), "k"),
        {(1, 10), (2, 200), (3, 30), (4, 40), (9, 90)}),
    "update_where_mor": (
        lambda s, t: acid_lite.update_where_mor(
            s, t, {"w": "w * 10"}, "k", 2, 2),
        {(1, 10), (2, 200), (3, 30), (4, 40)}),
}


@pytest.mark.parametrize("op", sorted(_RENAMED_REWRITES))
def test_every_rewrite_keeps_renamed_columns(spark, tdir, op):
    """Every op that writes data files after a rename stores the
    renamed column under its PHYSICAL name: filters, keys and SET
    expressions are LOGICAL, reads stay unified across pre- and
    post-rename files, and time travel to a pre-rename version shows
    the old name.  (A writer that drops the mapping stores ``w`` as a
    new physical column, and every rewritten row reads ``w = NULL``.)"""
    run, want = _RENAMED_REWRITES[op]
    pby = ["day"] if op == "optimize_where" else None
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k bigint, v bigint, day bigint").coalesce(1)
    acid_lite.create_table(spark, tdir, mk([(1, 10, 0), (4, 40, 0)]),
                           partition_by=pby)
    acid_lite.append(spark, tdir, mk([(2, 20, 0)]))
    acid_lite.rename_column(tdir, "v", "w")
    acid_lite.append(spark, tdir, _kv(spark, [(3, 30, 0)]).coalesce(1))
    before = acid_lite._read_manifest(tdir, 4)["files"]
    run(spark, tdir)
    after = acid_lite._read_manifest(
        tdir, acid_lite.latest_version(tdir))["files"]
    assert set(after) - set(before)  # it wrote data files
    got = {(r.k, r.w) for r in acid_lite.read(spark, tdir).collect()}
    assert got == (want or {(1, 10), (2, 20), (3, 30), (4, 40)})
    # the pre-rename snapshot still reads under the OLD logical name
    old = acid_lite.read(spark, tdir, version=1)
    assert "v" in old.columns and "w" not in old.columns
    assert {(r.k, r.v) for r in old.collect()} == {(1, 10), (4, 40)}


def test_mapping_validation(spark, tdir):
    """rename/drop refuse unknown columns, duplicate targets,
    partition-source columns, dropping the last column, and columns a
    CHECK constraint, a generated column or the sort order names."""
    acid_lite.create_table(spark, tdir, _pdf(spark, [(1, "a", 0)]),
                           partition_by=["day"])
    with pytest.raises(ValueError):
        acid_lite.rename_column(tdir, "nope", "x")
    with pytest.raises(ValueError):
        acid_lite.rename_column(tdir, "k", "v")  # target exists
    with pytest.raises(ValueError):
        acid_lite.rename_column(tdir, "day", "d")  # partition source
    with pytest.raises(ValueError):
        acid_lite.drop_column(tdir, "day")
    acid_lite.drop_column(tdir, "v")
    acid_lite.drop_column(tdir, "k")
    with pytest.raises(ValueError):
        acid_lite.drop_column(tdir, "day")  # also the only column now
    # a column other metadata names is refused too, committing
    # nothing: the change would land, then every later append (or
    # optimize_sorted) would fail to resolve the old name
    t2 = tdir + "_deps"
    acid_lite.create_table(
        spark, t2, spark.createDataFrame(
            [(1, 10, 5)], "k bigint, v bigint, s bigint"),
        generated={"g": "k * 2"})
    acid_lite.add_check_constraint(spark, t2, "pos", "v > 0")
    acid_lite.set_sort_order(t2, ["s"])
    v = acid_lite.latest_version(t2)
    with pytest.raises(ValueError, match="CHECK constraint 'pos'"):
        acid_lite.rename_column(t2, "v", "v2")
    with pytest.raises(ValueError, match="CHECK constraint 'pos'"):
        acid_lite.drop_column(t2, "v")
    with pytest.raises(ValueError, match="generated column 'g'"):
        acid_lite.rename_column(t2, "k", "k2")
    with pytest.raises(ValueError, match="sort order"):
        acid_lite.drop_column(t2, "s")
    assert acid_lite.latest_version(t2) == v
    acid_lite.append(spark, t2, spark.createDataFrame(
        [(2, 20, 6)], "k bigint, v bigint, s bigint"))
    acid_lite.optimize_sorted(spark, t2)
    assert {(r.k, r.v, r.g) for r in acid_lite.read(spark, t2).collect()} \
        == {(1, 10, 2), (2, 20, 4)}


# ---------------------------------------------------------------- shallow clone


def test_shallow_clone_zero_copy_and_divergence(spark, tdir, tmp_path):
    """CLONE copies no data (the clone's v1 references the source's
    files by absolute path), then the two tables diverge: writes to
    the clone never appear in the source and vice versa."""
    src = tdir
    dst = str(tmp_path / "clone")
    acid_lite.create_table(
        spark, src, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.shallow_clone(src, dst)
    m = acid_lite._read_manifest(dst, 1)
    assert m["op"] == "clone"
    assert all(os.path.isabs(f) for f in m["files"])
    assert not os.path.isdir(os.path.join(dst, "data"))  # zero copy
    got = {(r.k, r.v) for r in acid_lite.read(spark, dst).collect()}
    assert got == {(1, "a"), (2, "b")}
    # divergence both ways
    acid_lite.append(spark, dst, _df(spark, [(3, "clone-only")]))
    acid_lite.append(spark, src, _df(spark, [(4, "src-only")]))
    assert {r.k for r in acid_lite.read(spark, dst).collect()} == {1, 2, 3}
    assert {r.k for r in acid_lite.read(spark, src).collect()} == {1, 2, 4}


def test_clone_cow_edit_and_vacuum_never_touch_source(spark, tdir,
                                                      tmp_path):
    """A CoW DELETE on the clone rewrites the referenced file into the
    CLONE's tree and drops the reference; expiring the clone's old
    snapshots must not unlink the source's files."""
    src = tdir
    dst = str(tmp_path / "clone")
    acid_lite.create_table(
        spark, src, _df(spark, [(i, "x") for i in range(6)]).coalesce(1))
    src_files = [os.path.join(src, f)
                 for f in acid_lite._read_manifest(src, 1)["files"]]
    acid_lite.shallow_clone(src, dst)
    acid_lite.delete_where(spark, dst, "k", lo=0, hi=2)
    m2 = acid_lite._read_manifest(dst, 2)
    assert all(not os.path.isabs(f) for f in m2["files"])  # localized
    assert {r.k for r in acid_lite.read(spark, dst).collect()} == {3, 4, 5}
    # vacuum the clone past v1 (which referenced the source file)
    res = acid_lite.expire_snapshots(dst, keep_from=2)
    assert res["manifests_removed"] == 1
    assert all(os.path.exists(f) for f in src_files)  # source intact
    assert {r.k for r in acid_lite.read(spark, src).collect()} \
        == set(range(6))


def test_clone_carries_stats_and_partitioning(spark, tdir, tmp_path):
    """Pruning on the clone is as effective as on the source: stats
    and partition values carry with remapped keys; optimize()
    materializes the clone into its own tree."""
    src = tdir
    dst = str(tmp_path / "clone")
    acid_lite.create_table(
        spark, src,
        _pdf(spark, [(i, "x", i % 2) for i in range(8)]).coalesce(1),
        partition_by=["day"])
    acid_lite.shallow_clone(src, dst)
    sel, total = acid_lite.prune_files(dst, "day", 0, 0)
    assert 0 < len(sel) < total
    got = {(r.k, r.day)
           for r in acid_lite.read_pruned(spark, dst, "day", 0, 0).collect()}
    assert got == {(i, 0) for i in range(0, 8, 2)}
    v = acid_lite.optimize(spark, dst)
    m = acid_lite._read_manifest(dst, v)
    assert all(not os.path.isabs(f) for f in m["files"])  # deep now
    assert {r.k for r in acid_lite.read(spark, dst).collect()} \
        == set(range(8))


def test_clone_refuses_dvs_and_existing_dest(spark, tdir, tmp_path):
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.delete_where_dv(spark, tdir, "k", lo=1, hi=1)
    with pytest.raises(ValueError):
        acid_lite.shallow_clone(tdir, str(tmp_path / "c1"))
    acid_lite.optimize(spark, tdir)  # purges DVs
    acid_lite.shallow_clone(tdir, str(tmp_path / "c2"))
    with pytest.raises(ValueError):
        acid_lite.shallow_clone(tdir, str(tmp_path / "c2"))


# --------------------------------------------------------------------
# round 13: CHECK constraints / RESTORE / metadata tables / WAP publish
# --------------------------------------------------------------------

def test_check_constraint_rejects_bad_batch_atomically(spark, tdir):
    """A violating append/merge raises ConstraintViolation and leaves
    NO trace: version unmoved, contents identical. A passing batch
    then lands normally; NULL in the constrained expression passes
    (SQL-standard CHECK: only FALSE violates)."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    v0 = acid_lite.latest_version(tdir)
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, tdir, _df(spark, [(3, "c"), (-1, "x")]))
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.merge_upsert(spark, tdir, _df(spark, [(-2, "y")]), key="k")
    assert acid_lite.latest_version(tdir) == v0
    assert acid_lite.read(spark, tdir).count() == 2
    # NULL k -> UNKNOWN -> passes (and IS NOT NULL is the NOT NULL form)
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(None, "n")], "k bigint, v string"))
    assert acid_lite.read(spark, tdir).count() == 3
    acid_lite.add_check_constraint(spark, tdir, "v_nn", "v IS NOT NULL")
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, tdir, spark.createDataFrame(
            [(9, None)], "k bigint, v string"))


def test_add_constraint_validates_existing_and_drop(spark, tdir):
    """ADD CONSTRAINT scans existing rows first (Delta semantics);
    DROP removes it so the batch that used to fail now lands.  Both
    are metadata-only commits (file list unchanged)."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (-5, "b")]))
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    v = acid_lite.add_check_constraint(spark, tdir, "k_big", "k > -10")
    m = acid_lite._read_manifest(tdir, v)
    assert m["files"] == acid_lite._read_manifest(tdir, v - 1)["files"]
    assert m["constraints"] == {"k_big": "k > -10"}
    with pytest.raises(ValueError):
        acid_lite.add_check_constraint(spark, tdir, "k_big", "k > 0")
    acid_lite.drop_constraint(tdir, "k_big")
    acid_lite.append(spark, tdir, _df(spark, [(-9, "z")]))
    assert acid_lite.read(spark, tdir).count() == 3
    with pytest.raises(ValueError):
        acid_lite.drop_constraint(tdir, "nope")


def test_constraint_on_evolving_append_sees_null(spark, tdir):
    """A CHECK on a column the incoming evolve-append does not carry
    must evaluate against NULL (pass), not fail analysis."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, "a", 10.0)], "k bigint, v string, p double"))
    acid_lite.add_check_constraint(spark, tdir, "p_pos", "p > 0")
    acid_lite.append_evolve(spark, tdir, _df(spark, [(2, "b")]))  # no p col
    got = {(r.k, r.p) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 10.0), (2, None)}


def test_restore_metadata_only_history_preserving(spark, tdir):
    """RESTORE returns the table to an old version's exact contents as
    a NEW commit: zero files rewritten (the restored manifest's file
    list IS the target's), pre-restore versions stay readable, and the
    current constraints + txn map survive the rollback."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(2, "B"), (3, "c")]), key="k")
    acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    v_pre = acid_lite.latest_version(tdir)
    rv = acid_lite.restore_table(tdir, version=1, spark=spark)
    assert rv == v_pre + 1
    m = acid_lite._read_manifest(tdir, rv)
    assert m["files"] == acid_lite._read_manifest(tdir, 1)["files"]
    assert m["restore_of"] == 1
    assert m["constraints"] == {"k_pos": "k > 0"}  # guard survives rollback
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "b")}
    # pre-restore state is still one time travel away
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir, v_pre).collect()} \
        == {(1, "a"), (2, "B"), (3, "c")}
    ops = [h["op"] for h in acid_lite.describe_history(tdir)]
    assert ops[0] == "restore" and "merge" in ops
    # restore-to-tag resolves the same way
    acid_lite.create_tag(tdir, "good", 1)
    rv2 = acid_lite.restore_table(tdir, tag="good", spark=spark)
    assert acid_lite._read_manifest(tdir, rv2)["restore_of"] == 1
    with pytest.raises(ValueError):
        acid_lite.restore_table(tdir, version=1, tag="good")


def test_restore_refuses_vacuumed_target(spark, tdir):
    """Restoring to a version whose files were physically removed must
    refuse up front, not commit a manifest of dangling refs."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "A")]), key="k")
    # physically delete v1's (now unreferenced) file, like VACUUM would
    f1 = acid_lite._read_manifest(tdir, 1)["files"][0]
    os.remove(os.path.join(tdir, f1))
    with pytest.raises(ValueError, match="vacuumed"):
        acid_lite.restore_table(tdir, version=1)
    with pytest.raises(ValueError, match="not retained"):
        acid_lite.restore_table(tdir, version=99)


def test_metadata_tables_files_history_partitions(spark, tdir):
    """files/history/partitions inspection tables agree with the
    manifest and with a real read: per-file row counts sum to
    COUNT(*), partition rollups match the hive layout, history rows
    mirror describe_history."""
    df = spark.createDataFrame(
        [(1, "x", "A"), (2, "y", "A"), (3, "z", "B")],
        "k bigint, v string, p string")
    acid_lite.create_table(spark, tdir, df.coalesce(1), partition_by=["p"])
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(4, "w", "B")], "k bigint, v string, p string"))
    files = acid_lite.metadata_table(spark, tdir, "files")
    total = acid_lite.read(spark, tdir).count()
    assert files.agg({"row_count": "sum"}).first()[0] == total
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert files.count() == len(m["files"])
    parts = {(tuple(sorted((r.partition or {}).items())), r.n_files,
              r.row_count)
             for r in acid_lite.metadata_table(spark, tdir, "partitions")
             .collect()}
    assert ((("p", "A"),), 1, 2) in parts
    assert ((("p", "B"),), 2, 2) in parts
    hist = acid_lite.metadata_table(spark, tdir, "history")
    assert [r.op for r in hist.orderBy("version").collect()] \
        == ["create", "append"]
    with pytest.raises(ValueError):
        acid_lite.metadata_table(spark, tdir, "nope")


def test_wap_publish_isolation_and_single_commit(spark, tdir, tmp_path):
    """The WAP flow: staging writes are invisible to main; publish
    lands ALL staged changes (an append and a CoW delete) as ONE main
    commit; zero-copy refs stay refs (main's untouched file is still
    the same path)."""
    st = str(tmp_path / "staging")
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    base_files = set(acid_lite._read_manifest(tdir, 1)["files"])
    acid_lite.shallow_clone(tdir, st)
    acid_lite.append(spark, st, _df(spark, [(3, "c"), (-4, "bad")]))
    assert acid_lite.latest_version(tdir) == 1          # AUDIT: isolated
    assert acid_lite.read(spark, tdir).count() == 2
    acid_lite.delete_where(spark, st, "k", None, 0)     # fix on staging
    v = acid_lite.publish(spark, st, tdir)
    assert v == 2
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "b"), (3, "c")}
    m = acid_lite._read_manifest(tdir, 2)
    assert base_files <= set(m["files"])                # refs unmoved
    assert not any(os.path.isabs(f) for f in m["files"])


def test_wap_publish_rebases_over_concurrent_append(spark, tdir, tmp_path):
    """A main append racing the audit window composes: publish rebases
    and both the appended and the staged rows survive."""
    st = str(tmp_path / "staging")
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.shallow_clone(tdir, st)
    acid_lite.append(spark, st, _df(spark, [(2, "staged")]))
    acid_lite.append(spark, tdir, _df(spark, [(3, "racer")]))
    acid_lite.publish(spark, st, tdir)
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "staged"), (3, "racer")}


def test_wap_publish_conflicts_and_refusals(spark, tdir, tmp_path):
    """A concurrent main edit that removed a file the staging ALSO
    edited is a ConcurrentModification; a non-clone staging and staged
    DVs are refused up front."""
    st = str(tmp_path / "staging")
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.shallow_clone(tdir, st)
    # staging rewrites the (only) base file via CoW delete...
    acid_lite.delete_where(spark, st, "k", 2, 2)
    # ...and main CONCURRENTLY rewrites the same file
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "A!")]), key="k")
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.publish(spark, st, tdir)
    # not-a-clone refusal
    other = str(tmp_path / "other")
    acid_lite.create_table(spark, other, _df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="not a shallow clone"):
        acid_lite.publish(spark, other, tdir)


def test_wap_publish_staged_schema_evolution(spark, tdir, tmp_path):
    """Additive schema evolution staged on the branch publishes (main
    unchanged since clone); pre-existing rows read NULL for the new
    column.  If MAIN also evolved, publish raises instead of silently
    merging schemas."""
    st = str(tmp_path / "staging")
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.shallow_clone(tdir, st)
    acid_lite.append_evolve(spark, st, spark.createDataFrame(
        [(2, "b", 9.5)], "k bigint, v string, score double"))
    acid_lite.publish(spark, st, tdir)
    got = {(r.k, r.score) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, None), (2, 9.5)}


def test_minmax_metadata_pushdown_and_dv_fallback(spark, tdir):
    """minmax_columns answers from manifest stats when provably exact,
    and falls back to a scan (metadata_only=False) the moment a
    deletion vector could have removed the extremum."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(i, float(i)) for i in range(1, 11)],
                              "k bigint, p double").repartition(3))
    mm, meta = acid_lite.minmax_columns(spark, tdir, ["k", "p"])
    assert meta and mm["k"] == (1, 10) and mm["p"] == (1.0, 10.0)
    acid_lite.delete_where_dv(spark, tdir, "k", 10, 10)
    mm2, meta2 = acid_lite.minmax_columns(spark, tdir, ["k"])
    assert not meta2 and mm2["k"] == (1, 9)


def test_generated_columns_materialize_validate_prune(spark, tdir):
    """Generated columns: materialized when absent, validated when
    supplied (mismatch = atomic rejection), stats-prunable, and the
    definition survives a shallow clone."""
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)], "k bigint, p double")
    acid_lite.create_table(
        spark, tdir, src.repartitionByRange(4, "p"),
        generated={"b": "CAST(floor(p / 5) AS BIGINT)"})
    assert "b" in acid_lite.read(spark, tdir).columns
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(21, 99.0)], "k bigint, p double"))
    assert acid_lite.read(spark, tdir).filter("k = 21").first().b == 19
    v0 = acid_lite.latest_version(tdir)
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, tdir, spark.createDataFrame(
            [(22, 99.0, 3)], "k bigint, p double, b bigint"))
    assert acid_lite.latest_version(tdir) == v0
    # range-clustered seed -> the generated column's stats prune
    sel, total = acid_lite.prune_files(tdir, "b", 0, 0)
    assert 0 < len(sel) < total
    # merge materializes too
    acid_lite.merge_upsert(spark, tdir, spark.createDataFrame(
        [(1, 7.0)], "k bigint, p double"), key="k")
    assert acid_lite.read(spark, tdir).filter("k = 1").first().b == 1
    # clone carries the definition
    clone = tdir + "_clone"
    acid_lite.shallow_clone(tdir, clone)
    assert acid_lite._read_manifest(clone, 1)["generated"] == {
        "b": "CAST(floor(p / 5) AS BIGINT)"}
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, clone, spark.createDataFrame(
            [(30, 99.0, 0)], "k bigint, p double, b bigint"))


def test_bloom_index_lookup_and_soundness(spark, tdir):
    """Bloom sidecars skip files stats cannot (hash-scattered high-
    cardinality column), never lose a row (no false negatives across
    every key), keep un-indexed late files readable, and drop their
    manifest entries when the file is rewritten away."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i * 37 % 1000) for i in range(1, 201)], "k bigint, c bigint")
    acid_lite.create_table(spark, tdir, df.repartition(5, "c"))
    acid_lite.build_bloom_index(spark, tdir, "k", fpp=0.01)
    # stats are blind on k (hash layout), bloom is not
    sel_stats, total = acid_lite.prune_files(tdir, "k", 100, 100)
    sel_bloom, _ = acid_lite.prune_files_bloom(None, tdir, "k", 100)
    assert len(sel_stats) == total >= 2
    assert 0 < len(sel_bloom) < total
    # NO false negative for any present key (sample every 17th)
    for key in range(1, 201, 17):
        got = acid_lite.read_bloom_pruned(spark, tdir, "k", key)
        assert got.count() == 1, key
    # absent key: typically zero files survive (fpp=1%)
    sel_absent, _ = acid_lite.prune_files_bloom(None, tdir, "k", 10**9)
    assert len(sel_absent) <= 1
    # un-indexed appended file is always read (sound)
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(500, 0)], "k bigint, c bigint"))
    assert acid_lite.read_bloom_pruned(spark, tdir, "k", 500).count() == 1
    # rewrite drops the dead file's sidecar entry from the manifest
    acid_lite.delete_where(spark, tdir, "k", None, 0)  # no-op range
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    fset = set(m["files"])
    assert all(f in fset for f in (m.get("bloom_index") or {}).get("k", {}))
    # int/string only
    with pytest.raises(ValueError):
        acid_lite._bloom_key(1.5)


def test_sort_order_declared_then_materialized(spark, tdir):
    """set_sort_order is metadata-only and advisory; optimize_sorted
    materializes disjoint per-file ranges (range query prunes), stays
    row-identical, and time travel to the scattered layout works."""
    df = spark.createDataFrame(
        [(i, float((i * 37) % 100)) for i in range(200)],
        "k bigint, p double")
    acid_lite.create_table(spark, tdir, df.repartition(4, "k"))
    with pytest.raises(ValueError):
        acid_lite.optimize_sorted(spark, tdir)  # no order declared
    with pytest.raises(ValueError):
        acid_lite.set_sort_order(tdir, ["nope"])
    v = acid_lite.set_sort_order(tdir, ["p"])
    m = acid_lite._read_manifest(tdir, v)
    assert m["sort_order"] == ["p"] and \
        m["files"] == acid_lite._read_manifest(tdir, v - 1)["files"]
    sel0, tot0 = acid_lite.prune_files(tdir, "p", 50.0, None)
    assert len(sel0) == tot0  # scattered: stats blind
    acid_lite.optimize_sorted(spark, tdir)
    sel1, tot1 = acid_lite.prune_files(tdir, "p", 50.0, None)
    assert len(sel1) < tot1
    got = acid_lite.read_pruned(spark, tdir, "p", 50.0, None).count()
    assert got == acid_lite.read(spark, tdir).filter("p >= 50.0").count()
    assert acid_lite.read(spark, tdir).count() == 200
    assert acid_lite.read(spark, tdir, version=1).count() == 200


def test_ndv_sketches_incremental_and_covered(spark, tdir):
    """NDV sidecars: 5%-accurate table estimate from per-file HLL
    unions, incremental re-analyze (old sidecars untouched), honest
    covered=False between an append and its re-analyze, and dead-file
    entries dropped on rewrite."""
    df = spark.createDataFrame(
        [(i, i % 97) for i in range(400)], "k bigint, c bigint")
    acid_lite.create_table(spark, tdir, df.repartition(3))
    v1 = acid_lite.write_ndv_sketches(spark, tdir, "c")
    m1 = acid_lite._read_manifest(tdir, v1)
    map1 = dict(m1["ndv_sketch"]["c"])
    est, cov = acid_lite.table_ndv(spark, tdir, "c")
    assert cov and abs(est - 97) <= 5
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(1000, 200)], "k bigint, c bigint"))
    _e, cov_mid = acid_lite.table_ndv(spark, tdir, "c")
    assert not cov_mid
    v2 = acid_lite.write_ndv_sketches(spark, tdir, "c")
    map2 = acid_lite._read_manifest(tdir, v2)["ndv_sketch"]["c"]
    assert all(map2.get(f) == s for f, s in map1.items())
    est2, cov2 = acid_lite.table_ndv(spark, tdir, "c")
    assert cov2 and abs(est2 - 98) <= 5
    # CoW rewrite drops dead entries
    acid_lite.merge_upsert(spark, tdir, spark.createDataFrame(
        [(0, 500)], "k bigint, c bigint"), key="k")
    m3 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    fset = set(m3["files"])
    assert all(f in fset for f in m3["ndv_sketch"]["c"])


def test_incremental_recluster_touches_only_overlaps(spark, tdir):
    """Liquid-clustering cost model: after a narrow-range append to a
    clustered table, the incremental rewrite touches only the overlap
    cluster — disjoint files carry by reference — and a no-op call on
    the already-clustered result commits nothing."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "k bigint, p double")
    acid_lite.create_table(spark, tdir, df.repartition(3, "k"))
    acid_lite.set_sort_order(tdir, ["p"])
    acid_lite.optimize_sorted(spark, tdir, n_files=5)
    m_pre = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    # churn overlapping only the low end
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(1000 + i, float(i) + 0.5) for i in range(40)],
        "k bigint, p double").coalesce(1))
    v, n_rw, n_tot = acid_lite.optimize_sorted_incremental(spark, tdir)
    assert 0 < n_rw < n_tot
    m_post = acid_lite._read_manifest(tdir, v)
    assert set(m_pre["files"]) & set(m_post["files"])  # survivors
    assert acid_lite.read(spark, tdir).count() == 340
    # ranges now pairwise disjoint
    st = m_post["stats"]
    spans = sorted(tuple(st[f]["p"]) for f in m_post["files"]
                   if "p" in st.get(f, {}))
    assert all(spans[i][1] < spans[i + 1][0]
               for i in range(len(spans) - 1))
    # idempotent: second call is a no-op at the same version
    v2, n_rw2, _ = acid_lite.optimize_sorted_incremental(spark, tdir)
    assert n_rw2 == 0 and v2 == v


def test_wap_publish_vs_publish_race(spark, tdir, tmp_path):
    """Two audit branches staged from the same base: disjoint edits
    both publish (the second rebases over the first); branches that
    edited the SAME file conflict deterministically."""
    s1 = str(tmp_path / "s1")
    s2 = str(tmp_path / "s2")
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.shallow_clone(tdir, s1)
    acid_lite.shallow_clone(tdir, s2)
    # disjoint: both only APPEND -> both land
    acid_lite.append(spark, s1, _df(spark, [(10, "x")]))
    acid_lite.append(spark, s2, _df(spark, [(20, "y")]))
    acid_lite.publish(spark, s1, tdir)
    acid_lite.publish(spark, s2, tdir)
    got = {r.k for r in acid_lite.read(spark, tdir).collect()}
    assert got == {1, 2, 10, 20}
    # overlapping: both branches CoW-edit the same base file
    s3 = str(tmp_path / "s3")
    s4 = str(tmp_path / "s4")
    acid_lite.shallow_clone(tdir, s3)
    acid_lite.shallow_clone(tdir, s4)
    acid_lite.delete_where(spark, s3, "k", 1, 1)
    acid_lite.delete_where(spark, s4, "k", 2, 2)
    acid_lite.publish(spark, s3, tdir)
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.publish(spark, s4, tdir)


def test_restore_composes_with_later_writes(spark, tdir):
    """A restore is a normal commit: appends/merges after it stack on
    the restored state, constraints keep enforcing, and CDF across
    the restore classifies the rollback as inserts+deletes."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    acid_lite.merge_upsert(
        spark, tdir, _df(spark, [(2, "B"), (3, "c")]), key="k")
    v_pre = acid_lite.latest_version(tdir)
    acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    rv = acid_lite.restore_table(tdir, version=1, spark=spark)
    acid_lite.append(spark, tdir, _df(spark, [(4, "d")]))
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, tdir, _df(spark, [(-5, "x")]))
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {1, 2, 4}
    cdf = acid_lite.change_data_feed(spark, tdir, "k", v_pre, rv)
    kinds = {(r.k, r._change_type) for r in cdf.collect()}
    assert (3, "delete") in kinds           # rollback removed the merge insert
    assert any(k == 2 for k, c in kinds if "update" in c)  # B -> b


def test_wap_route_equivalence(spark, tdir, tmp_path):
    """ROUTE TWIN: the same logical edits applied (a) directly to a
    table and (b) staged on a clone then published must yield
    identical contents — WAP is a transport, not a transformation."""
    direct = tdir
    main = str(tmp_path / "main")
    stage = str(tmp_path / "stage")
    seed = _df(spark, [(i, f"v{i}") for i in range(1, 21)]).coalesce(2)
    batch = _df(spark, [(i, f"n{i}") for i in range(21, 31)])
    acid_lite.create_table(spark, direct, seed)
    acid_lite.create_table(spark, main, seed)
    # route (a): direct
    acid_lite.append(spark, direct, batch)
    acid_lite.delete_where(spark, direct, "k", 3, 5)
    # route (b): stage on a clone, audit window, publish
    acid_lite.shallow_clone(main, stage)
    acid_lite.append(spark, stage, batch)
    acid_lite.delete_where(spark, stage, "k", 3, 5)
    acid_lite.publish(spark, stage, main)
    a = {(r.k, r.v) for r in acid_lite.read(spark, direct).collect()}
    b = {(r.k, r.v) for r in acid_lite.read(spark, main).collect()}
    assert a == b and len(a) == 27


def test_recluster_route_equivalence(spark, tdir, tmp_path):
    """ROUTE TWIN: incremental reclustering and the full clustered
    rewrite produce the same CONTENTS and the same disjoint-range
    invariant — only the touched-file count differs."""
    full = tdir
    inc = str(tmp_path / "inc")
    df = spark.createDataFrame(
        [(i, float((i * 53) % 500)) for i in range(400)],
        "k bigint, p double")
    churn = spark.createDataFrame(
        [(1000 + i, float(i % 40)) for i in range(30)],
        "k bigint, p double")
    for t in (full, inc):
        acid_lite.create_table(spark, t, df.repartition(3, "k"))
        acid_lite.set_sort_order(t, ["p"])
        acid_lite.optimize_sorted(spark, t, n_files=5)
        acid_lite.append(spark, t, churn.coalesce(1))
    acid_lite.optimize_sorted(spark, full, n_files=6)
    _v, n_rw, n_tot = acid_lite.optimize_sorted_incremental(spark, inc)
    assert n_rw < n_tot
    a = {(r.k, r.p) for r in acid_lite.read(spark, full).collect()}
    b = {(r.k, r.p) for r in acid_lite.read(spark, inc).collect()}
    assert a == b and len(a) == 430
    for t in (full, inc):
        m = acid_lite._read_manifest(t, acid_lite.latest_version(t))
        st = m["stats"]
        spans = sorted(tuple(st[f]["p"]) for f in m["files"]
                       if "p" in st.get(f, {})
                       and int(st[f].get("::rows", 1) or 0) > 0)
        assert all(spans[i][1] < spans[i + 1][0]
                   for i in range(len(spans) - 1)), t


def test_wap_publish_partitioned_table(spark, tdir, tmp_path):
    """WAP composes with hive-layout partitioning: staged files keep
    their partition VALUES through the rename into main's tree, so
    partition pruning on the published table still excludes files."""
    st = str(tmp_path / "staging")
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0)], "k bigint, p string, v double")
    acid_lite.create_table(spark, tdir, df.coalesce(1),
                           partition_by=["p"])
    acid_lite.shallow_clone(tdir, st)
    acid_lite.append(spark, st, spark.createDataFrame(
        [(3, "A", 3.0), (4, "C", 4.0)], "k bigint, p string, v double"))
    v = acid_lite.publish(spark, st, tdir)
    m = acid_lite._read_manifest(tdir, v)
    parts = m.get("partitions") or {}
    # every live file carries its partition value, including the moved ones
    assert all(f in parts for f in m["files"]), m["files"]
    got = {(r.k, r.p) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "A"), (2, "B"), (3, "A"), (4, "C")}
    sel, total = acid_lite.prune_files(tdir, "p", "C", "C")
    assert 0 < len(sel) < total
    assert acid_lite.read_pruned(spark, tdir, "p", "C", "C").count() == 1


def test_orphan_sweep_covers_wap_and_spares_sidecars(spark, tdir,
                                                     tmp_path,
                                                     monkeypatch):
    """remove_orphan_files must sweep files a LOST publish stranded in
    wap-* dirs, while never touching index sidecars any retained
    manifest references."""
    import os as _os
    import time as _time

    st = str(tmp_path / "staging")
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.build_bloom_index(spark, tdir, "k")
    # stage an edit of the base file, then make main rewrite it too ->
    # the publish loses AFTER moving its files into main's tree
    acid_lite.shallow_clone(tdir, st)
    acid_lite.delete_where(spark, st, "k", 2, 2)
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "A")]), key="k")
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.publish(spark, st, tdir)
    wap_files = [
        _os.path.join(dp, f)
        for d in _os.listdir(tdir) if d.startswith("wap-")
        for dp, _dd, fns in _os.walk(_os.path.join(tdir, d))
        for f in fns
    ]
    assert wap_files  # the lost publish stranded moved files
    old = _time.time() - 7200
    for f in wap_files:
        _os.utime(f, (old, old))
    # the merge rewrote the indexed file, so the LATEST manifest holds
    # no sidecar entries — but the bloom commit's manifest is still
    # retained, and "referenced by ANY retained version" must protect
    # its sidecars (time travel to that version keeps its index)
    sidecars = [
        _os.path.join(tdir, sc) for sc in
        (acid_lite._read_manifest(tdir, 2)
         .get("bloom_index") or {}).get("k", {}).values()
    ]
    assert sidecars
    for sc in sidecars:
        _os.utime(sc, (old, old))  # old but REFERENCED: must survive
    out = acid_lite.remove_orphan_files(tdir, grace_seconds=3600)
    assert out["files_removed"] >= len(wap_files)
    assert all(not _os.path.exists(f) for f in wap_files)
    assert all(_os.path.exists(sc) for sc in sidecars)
    assert acid_lite.read(spark, tdir).count() == 2


def test_expire_then_orphan_sweep_reclaims_sidecars(spark, tdir):
    """Composition: expire_snapshots never touches index sidecars
    (only data/DV files), but once the referencing manifests expire,
    remove_orphan_files reclaims the now-unreferenced sidecars —
    the space-leak path closed by the wap-sweep fix."""
    import os as _os
    import time as _time

    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    acid_lite.build_bloom_index(spark, tdir, "k")
    sidecars = [
        _os.path.join(tdir, sc) for sc in
        acid_lite._read_manifest(tdir, 2)["bloom_index"]["k"].values()
    ]
    assert sidecars
    # the index entries die with a CoW rewrite, then history expires
    acid_lite.merge_upsert(spark, tdir, _df(spark, [(1, "A")]), key="k")
    v = acid_lite.latest_version(tdir)
    acid_lite.expire_snapshots(tdir, keep_from=v)
    assert all(_os.path.exists(sc) for sc in sidecars)  # expire: untouched
    old = _time.time() - 7200
    for sc in sidecars:
        _os.utime(sc, (old, old))
    acid_lite.remove_orphan_files(tdir, grace_seconds=3600)
    assert all(not _os.path.exists(sc) for sc in sidecars)
    assert acid_lite.read(spark, tdir).count() == 2


# ---------------------------------------------------------------
# round-14 ADVICE fixes
# ---------------------------------------------------------------

def test_bloom_pruned_read_respects_deletion_vectors(spark, tdir):
    """read_bloom_pruned on a merge-on-read snapshot must anti-join
    the deletion vectors like read() — a DV-deleted key returns zero
    rows through the bloom path, never a resurrected one (round-13
    ADVICE #1)."""
    df = spark.createDataFrame(
        [(i, i * 37 % 1000) for i in range(1, 101)], "k bigint, c bigint")
    acid_lite.create_table(spark, tdir, df.repartition(4, "c"))
    acid_lite.build_bloom_index(spark, tdir, "k", fpp=0.01)
    acid_lite.delete_where_dv(spark, tdir, "k", lo=50, hi=50)
    # deleted key: bloom sidecars still claim it (files untouched),
    # but the DV anti-join must drop the row
    assert acid_lite.read_bloom_pruned(spark, tdir, "k", 50).count() == 0
    # surviving keys stay exactly-one (no false negatives introduced)
    for key in (1, 49, 51, 100):
        assert acid_lite.read_bloom_pruned(spark, tdir, "k", key).count() \
            == 1, key
    # parity with the documented contract: read().filter(...)
    want = acid_lite.read(spark, tdir).filter("k = 50").count()
    assert want == 0


def test_restore_revalidates_kept_constraints(spark, tdir):
    """RESTORE keeps the current constraints AND revalidates the
    restored snapshot against them (round-13 ADVICE #2): resurrecting
    rows that were deleted before the constraint landed must raise,
    not smuggle violations past the gate; a kept constraint on a
    column absent from the restored schema is rejected up front."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (-2, "bad")]).coalesce(1))
    acid_lite.delete_where(spark, tdir, "k", None, 0)        # v2: drop -2
    acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")  # v3
    # restoring to v1 would resurrect k=-2, violating the kept CHECK
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.restore_table(tdir, version=1, spark=spark)
    # constrained restore without spark= is refused, not silently
    # unvalidated
    with pytest.raises(ValueError, match="spark"):
        acid_lite.restore_table(tdir, version=1)
    # a clean target revalidates green and commits
    v_clean = acid_lite.latest_version(tdir)
    acid_lite.append(spark, tdir, _df(spark, [(5, "e")]))
    rv = acid_lite.restore_table(tdir, version=v_clean, spark=spark)
    assert acid_lite._read_manifest(tdir, rv)["restore_of"] == v_clean
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1}
    # kept constraint referencing a column the restored schema lacks:
    # rejected with a drop_constraint hint
    acid_lite.append_evolve(spark, tdir, spark.createDataFrame(
        [(7, "g", 1.5)], "k bigint, v string, score double"))
    pre_evolve = v_clean  # v before score existed
    acid_lite.add_check_constraint(
        spark, tdir, "score_pos", "score IS NULL OR score > 0")
    with pytest.raises(ValueError, match="drop_constraint"):
        acid_lite.restore_table(tdir, version=pre_evolve, spark=spark)


def test_wap_publish_schema_race_in_commit_window(spark, tdir, tmp_path):
    """A metadata-only schema evolution on MAIN landing AFTER
    publish's pre-check but BEFORE the winning commit must raise
    ConcurrentModification, not be overwritten by the staged schema
    (round-13 ADVICE #3).  The race is wedged by evolving main from
    inside a patched _rebase_commit on its first loop iteration."""
    st = str(tmp_path / "staging")
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]).coalesce(1))
    acid_lite.shallow_clone(tdir, st)
    acid_lite.append_evolve(spark, st, spark.createDataFrame(
        [(2, "b", 9.5)], "k bigint, v string, score double"))

    real = acid_lite._rebase_commit
    fired = {"done": False}

    def wedged(path, touched, new_files, op, **kw):
        if not fired["done"]:
            fired["done"] = True
            # concurrent metadata-only evolution lands on main NOW —
            # after publish's pre-check, before its commit
            pm = acid_lite._read_manifest(
                tdir, acid_lite.latest_version(tdir))
            acid_lite._commit(
                tdir, acid_lite.latest_version(tdir) + 1, pm["files"],
                acid_lite.latest_version(tdir), "evolve-schema",
                schema=pm["schema"] + ", extra bigint")
        return real(path, touched, new_files, op, **kw)

    acid_lite._rebase_commit = wedged
    try:
        with pytest.raises(acid_lite.ConcurrentModification):
            acid_lite.publish(spark, st, tdir)
    finally:
        acid_lite._rebase_commit = real
    assert fired["done"]
    # main's concurrent evolution survived, staging's did not land
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert "extra" in m["schema"] and "score" not in m["schema"]


def test_rename_drop_invalidate_column_sidecars(spark, tdir):
    """Bloom/NDV sidecar maps are keyed by logical name: a rename
    re-keys them (values unchanged, index stays valid); a drop
    removes them; a re-added same-named column consults NO stale
    sidecars, so pruning stays sound (round-13 ADVICE #4)."""
    df = spark.createDataFrame(
        [(i, i % 7) for i in range(1, 101)], "k bigint, c bigint")
    acid_lite.create_table(spark, tdir, df.repartition(4, "c"))
    acid_lite.build_bloom_index(spark, tdir, "k", fpp=0.01)
    acid_lite.rename_column(tdir, "k", "kk")
    m = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert "kk" in (m.get("bloom_index") or {}) and \
        "k" not in (m.get("bloom_index") or {})
    # re-keyed index still prunes and still finds every row
    assert acid_lite.read_bloom_pruned(spark, tdir, "kk", 42).count() == 1
    # re-add a fresh column under the OLD name: no stale bloom entry,
    # so lookups on it scan soundly (un-indexed = kept files)
    acid_lite.append_evolve(spark, tdir, spark.createDataFrame(
        [(500, 0, 12345)], "kk bigint, c bigint, k bigint"))
    m2 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert "k" not in (m2.get("bloom_index") or {})
    assert acid_lite.read_bloom_pruned(spark, tdir, "k", 12345).count() == 1
    # drop clears the sidecar map entry entirely
    acid_lite.drop_column(tdir, "kk")
    m3 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert "kk" not in (m3.get("bloom_index") or {})


# ---------------------------------------------------------------
# round-14: named branches (generalized WAP)
# ---------------------------------------------------------------

def test_branch_lifecycle_commit_publish(spark, tdir):
    """A named branch is a full table: independent commits, time
    travel on the branch, fast-forward publish to main as one squash
    commit, retain re-forks at the new head."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    bp = acid_lite.create_branch(tdir, "audit")
    assert acid_lite.list_branches(tdir) == ["audit"]
    acid_lite.append(spark, bp, _df(spark, [(3, "c")]))
    acid_lite.delete_where(spark, bp, "k", 1, 1)
    # branch sees its own edits; main is untouched
    assert {r.k for r in acid_lite.read_branch(spark, tdir, "audit")
            .collect()} == {2, 3}
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1, 2}
    # branch time travel: its own v1 is the fork point
    assert {r.k for r in acid_lite.read_branch(
        spark, tdir, "audit", version=1).collect()} == {1, 2}
    # main moved compatibly (append) -> publish rebases over it
    acid_lite.append(spark, tdir, _df(spark, [(9, "z")]))
    v_main_pre = acid_lite.latest_version(tdir)
    v = acid_lite.publish_branch(spark, tdir, "audit", retain=True)
    assert v == v_main_pre + 1  # ONE squash commit
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {2, 3, 9}
    # retained branch re-forked at the published head
    assert {r.k for r in acid_lite.read_branch(spark, tdir, "audit")
            .collect()} == {2, 3, 9}
    acid_lite.drop_branch(tdir, "audit")
    assert acid_lite.list_branches(tdir) == []
    with pytest.raises(ValueError, match="invalid branch name"):
        acid_lite.create_branch(tdir, "../escape")
    with pytest.raises(ValueError, match="unknown branch"):
        acid_lite.read_branch(spark, tdir, "nope")


def test_branch_vs_main_divergence_race(spark, tdir):
    """Branch-vs-main race receipts: (a) same-file divergence -> the
    second publisher conflicts deterministically; (b) two branches
    with disjoint edits both publish, the second rebasing over the
    first; (c) default publish consumes the branch."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    # (a) branch CoW-edits the base file; main then edits it too
    acid_lite.create_branch(tdir, "risky")
    bp = acid_lite.branch_path(tdir, "risky")
    acid_lite.delete_where(spark, bp, "k", 1, 1)
    acid_lite.delete_where(spark, tdir, "k", 2, 2)   # main rewrites same file
    with pytest.raises(acid_lite.ConcurrentModification):
        acid_lite.publish_branch(spark, tdir, "risky")
    # the failed publish did NOT consume the branch
    assert "risky" in acid_lite.list_branches(tdir)
    acid_lite.drop_branch(tdir, "risky")
    # (b) disjoint: two branches appending different rows both land
    acid_lite.create_branch(tdir, "b1")
    acid_lite.create_branch(tdir, "b2")
    acid_lite.append(spark, acid_lite.branch_path(tdir, "b1"),
                     _df(spark, [(10, "x")]))
    acid_lite.append(spark, acid_lite.branch_path(tdir, "b2"),
                     _df(spark, [(20, "y")]))
    acid_lite.publish_branch(spark, tdir, "b1")
    acid_lite.publish_branch(spark, tdir, "b2")
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {1, 10, 20}
    # (c) both consumed by their default publish
    assert acid_lite.list_branches(tdir) == []


def test_branch_retention_independent_of_main(spark, tdir):
    """Per-branch snapshot retention: expiring the BRANCH's history
    keeps main's intact (and vice versa), and main's orphan sweep
    never reaches into branches/."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a")]).coalesce(1))
    bp = acid_lite.create_branch(tdir, "dev")
    for i in range(2, 5):
        acid_lite.append(spark, bp, _df(spark, [(i, "x")]))
    bv = acid_lite.latest_version(bp)
    acid_lite.expire_snapshots(bp, keep_from=bv)
    assert not os.path.exists(acid_lite._manifest_path(bp, 1))
    assert os.path.exists(acid_lite._manifest_path(tdir, 1))  # main intact
    # branch head still reads after ITS expiry
    assert {r.k for r in acid_lite.read_branch(spark, tdir, "dev")
            .collect()} == {1, 2, 3, 4}
    # main's orphan sweep leaves the branch's young+old local files
    import time as _time
    old = _time.time() - 7200
    bfiles = [os.path.join(bp, f)
              for f in acid_lite._read_manifest(bp, bv)["files"]
              if not os.path.isabs(f)]
    for f in bfiles:
        os.utime(f, (old, old))
    acid_lite.remove_orphan_files(tdir, grace_seconds=3600)
    assert all(os.path.exists(f) for f in bfiles)


def test_merge_schema_evolution(spark, tdir):
    """MERGE-time schema evolution: a source with new columns widens
    the target in the same commit (survivors read NULL), extras
    without the flag are an error not a silent drop, and a re-added
    dropped name maps to a fresh physical column."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    src = spark.createDataFrame(
        [(2, "B", 9.5, False), (4, "d", 1.0, False), (3, "c", None, True)],
        "k bigint, v string, score double, is_del boolean")
    with pytest.raises(ValueError, match="evolve_schema"):
        acid_lite.merge_three_way(spark, tdir, src, key="k",
                                  delete_col="is_del")
    v = acid_lite.merge_three_way(spark, tdir, src, key="k",
                                  delete_col="is_del", evolve_schema=True)
    m = acid_lite._read_manifest(tdir, v)
    assert "score double" in m["schema"]
    got = {(r.k, r.v, r.score)
           for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a", None), (2, "B", 9.5), (4, "d", 1.0)}
    # CDF reports the widened rows, NULL-backfilled pre-images
    cdf = {(r.k, r._change_type): r.score
           for r in acid_lite.change_data_feed(spark, tdir, "k", 1, v)
           .collect()}
    assert cdf[(2, "update_preimage")] is None
    assert cdf[(2, "update_postimage")] == 9.5
    assert (3, "delete") in cdf and cdf[(4, "insert")] == 1.0
    # retype via merge refused even with the flag
    bad = spark.createDataFrame([(1, 5)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="retype"):
        acid_lite.merge_three_way(spark, tdir, bad, key="k",
                                  evolve_schema=True)
    # drop then re-add through MERGE evolution: fresh physical name,
    # old pages never resurrect
    acid_lite.drop_column(tdir, "score")
    src2 = spark.createDataFrame([(2, "B2", 777.0)],
                                 "k bigint, v string, score double")
    v2 = acid_lite.merge_three_way(spark, tdir, src2, key="k",
                                   evolve_schema=True)
    m2 = acid_lite._read_manifest(tdir, v2)
    assert m2["mapping"]["score"] != "score"  # fresh physical column
    got2 = {(r.k, r.score) for r in acid_lite.read(spark, tdir).collect()}
    assert got2 == {(1, None), (2, 777.0), (4, None)}  # 4's old value dead


def test_update_where_mor_mechanics(spark, tdir):
    """MoR UPDATE: one commit, DV for old images + appended new
    images, parent files carried verbatim; prior-DV rows never
    update; generated columns recompute; constraints gate the new
    images; OPTIMIZE purges the stack."""
    df = spark.createDataFrame(
        [(i, float(i), "N") for i in range(1, 11)],
        "k bigint, p double, s string")
    acid_lite.create_table(spark, tdir, df.repartition(3))
    base_files = set(acid_lite._read_manifest(tdir, 1)["files"])
    acid_lite.delete_where_dv(spark, tdir, "k", 3, 4)           # v2
    v = acid_lite.update_where_mor(
        spark, tdir, {"p": "p + 100.0", "s": "'U'"}, "k", 4, 7)  # v3
    m = acid_lite._read_manifest(tdir, v)
    assert m["op"] == "update-mor" and v == 3
    assert base_files <= set(m["files"])          # zero rewrites
    assert m["dv_rows"] == 2 + 3                  # 3,4 dead; 5,6,7 updated
    got = {(r.k, r.p, r.s) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 1.0, "N"), (2, 2.0, "N"), (5, 105.0, "U"),
                   (6, 106.0, "U"), (7, 107.0, "U"), (8, 8.0, "N"),
                   (9, 9.0, "N"), (10, 10.0, "N")}
    # time travel: pre-update snapshot still shows old images
    pre = {(r.k, r.p) for r in acid_lite.read(spark, tdir, 2).collect()}
    assert (5, 5.0) in pre and (3, 3.0) not in pre
    # constraints gate the NEW images
    acid_lite.add_check_constraint(spark, tdir, "p_cap", "p < 1000")
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.update_where_mor(
            spark, tdir, {"p": "p + 10000.0"}, "k", 1, 1)
    # SET on unknown / generated columns refused
    with pytest.raises(ValueError, match="unknown"):
        acid_lite.update_where_mor(spark, tdir, {"zz": "1"}, "k", 1, 1)
    # OPTIMIZE purges the vectors, values survive
    acid_lite.optimize(spark, tdir)
    mo = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    assert not mo.get("dvs")
    assert {(r.k, r.p, r.s)
            for r in acid_lite.read(spark, tdir).collect()} == got


def test_update_where_mor_generated_and_partitioned(spark, tdir):
    """Generated columns recompute on update; on a hive-partitioned
    table an update that MOVES the partition value relocates the new
    image (old dies by position)."""
    df = spark.createDataFrame(
        [(1, 2, "a"), (2, 4, "a"), (3, 6, "b")],
        "k bigint, v bigint, part string")
    acid_lite.create_table(spark, tdir, df, partition_by=["part"],
                           generated={"dbl": "v * 2"})
    acid_lite.append(spark, tdir, spark.createDataFrame(
        [(4, 8, "b")], "k bigint, v bigint, part string"))
    with pytest.raises(ValueError, match="generated"):
        acid_lite.update_where_mor(spark, tdir, {"dbl": "1"}, "k", 1, 1)
    # SET v -> generated dbl recomputes; SET part -> row relocates
    v = acid_lite.update_where_mor(
        spark, tdir, {"v": "v + 1", "part": "'c'"}, "k", 2, 3)
    got = {(r.k, r.v, r.part, r.dbl)
           for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 2, "a", 4), (2, 5, "c", 10), (3, 7, "c", 14),
                   (4, 8, "b", 16)}
    # partition pruning still sees the moved rows under 'c'
    sel, _tot = acid_lite.prune_files(tdir, "part", "c", "c", version=v)
    assert sel and all("part=c" in f for f in sel)


def test_optimize_where_partition_scoped(spark, tdir):
    """OPTIMIZE WHERE compacts ONLY the named partition's files;
    other partitions carry verbatim; non-partition keys and
    DV-carrying tables are refused; content is row-identical."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(1, 9)],
        "k bigint, part string")
    acid_lite.create_table(spark, tdir, df.coalesce(1),
                           partition_by=["part"])
    for i in (10, 20, 30):  # fragment BOTH partitions across appends
        acid_lite.append(spark, tdir, spark.createDataFrame(
            [(i, "a"), (i + 1, "b")], "k bigint, part string")
            .coalesce(1))
    m0 = acid_lite._read_manifest(tdir, acid_lite.latest_version(tdir))
    a0 = [f for f in m0["files"] if "part=a" in f]
    b0 = [f for f in m0["files"] if "part=b" in f]
    assert len(a0) >= 3 and len(b0) >= 3
    pre = {(r.k, r.part) for r in acid_lite.read(spark, tdir).collect()}
    v = acid_lite.optimize_where(spark, tdir, {"part": "a"})
    m1 = acid_lite._read_manifest(tdir, v)
    a1 = [f for f in m1["files"] if "part=a" in f]
    b1 = [f for f in m1["files"] if "part=b" in f]
    assert m1["op"] == "optimize-where"
    assert len(a1) == 1 and not set(a1) & set(a0)   # compacted fresh
    assert sorted(b1) == sorted(b0)                 # carried verbatim
    assert {(r.k, r.part)
            for r in acid_lite.read(spark, tdir).collect()} == pre
    # partition pruning still works on the compacted layout
    sel, tot = acid_lite.prune_files(tdir, "part", "a", "a", version=v)
    assert sel == a1 and tot == len(m1["files"])
    with pytest.raises(ValueError, match="not partition columns"):
        acid_lite.optimize_where(spark, tdir, {"k": 1})
    acid_lite.delete_where_dv(spark, tdir, "k", 1, 1)
    with pytest.raises(ValueError, match="deletion vectors"):
        acid_lite.optimize_where(spark, tdir, {"part": "a"})


def test_branch_inherits_constraints_publish_keeps_mains(spark, tdir):
    """Composition: a branch CLONE carries the table's CHECK
    constraints (staged writes are validated branch-side, before any
    publish); constraint changes are per-table — publish lands FILE
    deltas and main keeps its own current guard set."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a")]).coalesce(1))
    acid_lite.add_check_constraint(spark, tdir, "k_pos", "k > 0")
    acid_lite.create_branch(tdir, "dev")
    bp = acid_lite.branch_path(tdir, "dev")
    # the branch enforces the inherited guard on ITS writes
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, bp, _df(spark, [(-7, "bad")]))
    acid_lite.append(spark, bp, _df(spark, [(2, "b")]))
    # main later drops the guard; the branch's copy is independent
    acid_lite.drop_constraint(tdir, "k_pos")
    with pytest.raises(acid_lite.ConstraintViolation):
        acid_lite.append(spark, bp, _df(spark, [(-8, "bad")]))
    # publish lands the branch's rows; main's (empty) guard set wins
    v = acid_lite.publish_branch(spark, tdir, "dev")
    m = acid_lite._read_manifest(tdir, v)
    assert not m.get("constraints")
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {1, 2}
    acid_lite.append(spark, tdir, _df(spark, [(-9, "now legal")]))
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} \
        == {1, 2, -9}


def test_expire_main_retains_live_branch_forkpoint_files(spark, tdir):
    """Expiring MAIN past a branch's fork point must keep fork-point
    files a live branch still references (round-14 ADVICE): branch
    manifests hold them as ABSOLUTE refs into main's tree, main's
    expired manifests as relative refs — both sweepers translate and
    retain them; dropping the branch releases them."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a")]).coalesce(1))          # v1
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]).coalesce(1))  # v2
    acid_lite.create_branch(tdir, "dev")   # fork at v2: refs both files
    # main moves on: CoW delete drops row 1's file from main's live set
    acid_lite.delete_where(spark, tdir, "k", hi=1)                # v3
    acid_lite.expire_snapshots(tdir, keep_from=3)
    assert {r.k for r in acid_lite.read_branch(spark, tdir, "dev")
            .collect()} == {1, 2}
    # the orphan sweep retains them too (negative grace = sweep all)
    acid_lite.remove_orphan_files(tdir, grace_seconds=-1.0)
    assert {r.k for r in acid_lite.read_branch(spark, tdir, "dev")
            .collect()} == {1, 2}
    # dropping the branch releases the refs: a fresh sweep reclaims
    acid_lite.drop_branch(tdir, "dev")
    acid_lite.remove_orphan_files(tdir, grace_seconds=-1.0)
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {2}


def test_publish_branch_carries_staged_mapping(spark, tdir):
    """A rename staged on a branch publishes its column MAPPING with
    the schema (round-14 ADVICE): physical pages keep the old name,
    so dropping the mapping would read the renamed column as NULL
    from every file."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    bp = acid_lite.create_branch(tdir, "ren")
    acid_lite.rename_column(bp, "v", "label")
    acid_lite.append(
        spark, bp,
        spark.createDataFrame([(3, "c")], "k bigint, label string"))
    v = acid_lite.publish_branch(spark, tdir, "ren")
    m = acid_lite._read_manifest(tdir, v)
    assert m["mapping"]["label"] == "v"
    got = {(r.k, r.label) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_publish_branch_carries_dropped_physical(spark, tdir):
    """A drop_column staged on a branch keeps the physical name
    RETIRED on main after publish: a later re-add on main maps to a
    fresh physical column instead of resurrecting the old pages."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                              "k bigint, v string, score double")
        .coalesce(1))
    bp = acid_lite.create_branch(tdir, "dropper")
    acid_lite.drop_column(bp, "score")
    v = acid_lite.publish_branch(spark, tdir, "dropper")
    m = acid_lite._read_manifest(tdir, v)
    assert "score" in (m.get("dropped_physical") or [])
    assert "score" not in m["schema"]
    # re-add on MAIN: fresh physical name, old values stay dead
    v2 = acid_lite.append_evolve(
        spark, tdir,
        spark.createDataFrame([(3, "c", 99.0)],
                              "k bigint, v string, score double"))
    m2 = acid_lite._read_manifest(tdir, v2)
    assert m2["mapping"]["score"] != "score"
    got = {(r.k, r.score) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, None), (2, None), (3, 99.0)}


def test_update_where_mor_rebases_over_concurrent_append(spark, tdir,
                                                         monkeypatch):
    """MoR UPDATE survives losing the version race to a COMPATIBLE
    append (round-14 ADVICE: previously any concurrent commit
    surfaced CommitConflict): the commit rebases and both effects
    land."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    orig = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        out = orig(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.append(spark, tdir,
                             _df(spark, [(9, "z")]).coalesce(1))
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    v = acid_lite.update_where_mor(spark, tdir, {"v": "'U'"}, "k", 1, 1)
    assert acid_lite._read_manifest(tdir, v)["op"] == "update-mor"
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "U"), (2, "b"), (9, "z")}


def test_update_where_mor_conflicts_on_concurrent_dv_change(spark, tdir,
                                                            monkeypatch):
    """A concurrent DV delete under a MoR UPDATE is a CONFLICT (the
    update's images were computed net of the old DV set), surfaced as
    ConcurrentModification — never a silent resurrect."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
        .coalesce(1))
    orig = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        out = orig(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    with pytest.raises(acid_lite.ConcurrentModification, match="deletion"):
        acid_lite.update_where_mor(spark, tdir, {"v": "'U'"}, "k", 1, 1)
    # the winner (DV delete) is intact; the loser changed nothing
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_type_widening_append_evolve(spark, tdir):
    """TYPE WIDENING on append (round-14 VERDICT task 4 — Delta's
    type-widening feature): a wider-typed batch widens the manifest
    schema int→bigint / float→double in the SAME commit, zero files
    rewritten; old narrow files read through parquet type promotion;
    a later narrow batch still appends; non-lattice retypes refuse;
    CDF across the widening reports exactly the appended rows."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, 10, 1.5), (2, 20, 2.5)],
                              "k int, c int, r float").coalesce(1))
    v1_files = set(acid_lite._read_manifest(tdir, 1)["files"])
    wide = spark.createDataFrame(
        [(3 * 10**10, 5 * 10**9, 0.1)], "k bigint, c bigint, r double")
    v = acid_lite.append_evolve(spark, tdir, wide)
    m = acid_lite._read_manifest(tdir, v)
    assert acid_lite._schema_types(m["schema"]) == {
        "k": "bigint", "c": "bigint", "r": "double"}
    assert v1_files <= set(m["files"])     # metadata-only widening
    got = {(r.k, r.c, r.r) for r in acid_lite.read(spark, tdir).collect()}
    assert (1, 10, 1.5) in got and (3 * 10**10, 5 * 10**9, 0.1) in got
    # CDF across the widening: only the appended row, as insert
    cdf = acid_lite.change_data_feed(spark, tdir, "k", 1, v)
    assert [(r.k, r._change_type) for r in cdf.collect()] \
        == [(3 * 10**10, "insert")]
    # narrow batch into the widened table: still appends, reads fine
    acid_lite.append_evolve(
        spark, tdir,
        spark.createDataFrame([(4, 40, 4.5)], "k int, c int, r float"))
    assert acid_lite.read(spark, tdir).filter("k = 4").count() == 1
    # stats pruning still sound across mixed-width files
    sel, tot = acid_lite.prune_files(tdir, "k", 3 * 10**10, None)
    assert len(sel) < tot
    # non-lattice retype refused
    with pytest.raises(ValueError, match="retype"):
        acid_lite.append_evolve(
            spark, tdir,
            spark.createDataFrame([(5, "x", 1.0)],
                                  "k int, c string, r float"))


def test_type_widening_merge_three_way(spark, tdir):
    """MERGE-time type widening: a wider-typed source widens the
    target in the same rewrite commit under evolve_schema=True;
    without the flag the widening is an ERROR (silently coercing the
    rewrite would put wide pages under a narrow schema); survivor
    rows keep their values through the union coercion."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                              "k int, c int").coalesce(1))
    src = spark.createDataFrame(
        [(2, 6 * 10**9), (4 * 10**9, 7)], "k bigint, c bigint")
    with pytest.raises(ValueError, match="widens"):
        acid_lite.merge_three_way(spark, tdir, src, key="k")
    v = acid_lite.merge_three_way(spark, tdir, src, key="k",
                                  evolve_schema=True)
    m = acid_lite._read_manifest(tdir, v)
    assert acid_lite._schema_types(m["schema"]) == {
        "k": "bigint", "c": "bigint"}
    got = {(r.k, r.c) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 10), (2, 6 * 10**9), (3, 30), (4 * 10**9, 7)}
    # CDF across the widening merge: carried rows cancel through the
    # TO-typed digest — only the real update + insert surface
    types = {(r.k, r._change_type)
             for r in acid_lite.change_data_feed(spark, tdir, "k", 1, v)
             .collect()}
    assert types == {(2, "update_preimage"), (2, "update_postimage"),
                     (4 * 10**9, "insert")}


def test_tags_immutable_refs_and_retention(spark, tdir):
    """Snapshot TAGS: immutable named refs (re-create refuses, drop +
    re-create re-points); a tagged snapshot survives expire_snapshots
    past it (per-ref retention) and its files survive the orphan
    sweep; dropping the tag releases both."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a")]).coalesce(1))          # v1
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]).coalesce(1))  # v2
    acid_lite.append(spark, tdir, _df(spark, [(3, "c")]).coalesce(1))  # v3
    assert acid_lite.create_tag(tdir, "audit", version=1) == 1
    with pytest.raises(FileExistsError):
        acid_lite.create_tag(tdir, "audit", version=2)  # immutable
    with pytest.raises(ValueError, match="invalid tag name"):
        acid_lite.create_tag(tdir, "release 1", version=1)
    assert acid_lite.list_tags(tdir) == {"audit": 1}
    # main rewrites row 1 away, then expires everything before v4
    acid_lite.delete_where(spark, tdir, "k", hi=1)                # v4
    out = acid_lite.expire_snapshots(tdir, keep_from=4)
    assert out["manifests_removed"] == 2  # v2, v3 — v1 is tag-pinned
    assert {r.k for r in acid_lite.read_tag(spark, tdir, "audit")
            .collect()} == {1}
    with pytest.raises(FileNotFoundError):
        acid_lite.read(spark, tdir, 2)  # untagged versions expired
    acid_lite.remove_orphan_files(tdir, grace_seconds=-1.0)
    assert {r.k for r in acid_lite.read_tag(spark, tdir, "audit")
            .collect()} == {1}
    # dropping the tag releases the pin: next expire reclaims v1
    acid_lite.drop_tag(tdir, "audit")
    acid_lite.expire_snapshots(tdir, keep_from=4)
    with pytest.raises(FileNotFoundError):
        acid_lite.read(spark, tdir, 1)
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == {2, 3}


def test_widen_column_type_explicit(spark, tdir):
    """ALTER COLUMN TYPE: explicit metadata-only widening; narrowing
    and non-lattice changes refuse; old files read promoted."""
    acid_lite.create_table(
        spark, tdir,
        spark.createDataFrame([(1, 1.5)], "k int, r float").coalesce(1))
    f1 = list(acid_lite._read_manifest(tdir, 1)["files"])
    v = acid_lite.widen_column_type(tdir, "k", "bigint")
    m = acid_lite._read_manifest(tdir, v)
    assert acid_lite._schema_types(m["schema"])["k"] == "bigint"
    assert m["files"] == f1  # metadata-only
    acid_lite.widen_column_type(tdir, "r", "double")
    got = {(r.k, r.r) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 1.5)}
    acid_lite.append(
        spark, tdir,
        spark.createDataFrame([(5 * 10**10, 0.25)],
                              "k bigint, r double"))
    assert acid_lite.read(spark, tdir).count() == 2
    for col, t in (("k", "int"), ("k", "string"), ("r", "float")):
        with pytest.raises(ValueError, match="lattice"):
            acid_lite.widen_column_type(tdir, col, t)
    with pytest.raises(ValueError, match="no such column"):
        acid_lite.widen_column_type(tdir, "zz", "bigint")


def test_optimize_binpack_rewrites_only_small_files(spark, tdir):
    """Bin-packing OPTIMIZE: small files consolidate, right-sized
    files carry by reference, content and time travel are intact,
    single-file bins are skipped, and guards refuse DVs/partitioned."""
    big = spark.createDataFrame(
        [(i, "x" * 200) for i in range(500)], "k bigint, v string")
    small = spark.createDataFrame(
        [(1000 + i, "y") for i in range(12)], "k bigint, v string")
    acid_lite.create_table(spark, tdir, big.coalesce(1))          # v1
    acid_lite.append(spark, tdir, small.repartition(6))           # v2
    m2 = acid_lite._read_manifest(tdir, 2)
    import os as _os
    sizes = {f: _os.path.getsize(_os.path.join(tdir, f))
             for f in m2["files"]}
    big_file = max(sizes, key=sizes.get)
    v = acid_lite.optimize_binpack(
        spark, tdir, target_file_bytes=10**7,
        min_file_bytes=sizes[big_file])
    m3 = acid_lite._read_manifest(tdir, v)
    assert m3["op"] == "optimize-binpack"
    assert big_file in m3["files"]                 # untouched
    assert len(m3["files"]) < len(m2["files"])     # consolidated
    got = {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()}
    want = {(r.k, r.v) for r in acid_lite.read(spark, tdir, 2).collect()}
    assert got == want and len(got) == 512
    # idempotent: second run finds nothing to consolidate
    assert acid_lite.optimize_binpack(
        spark, tdir, target_file_bytes=10**7,
        min_file_bytes=sizes[big_file]) == v
    # guards
    acid_lite.delete_where_dv(spark, tdir, "k", 3, 3)
    with pytest.raises(ValueError, match="deletion vectors"):
        acid_lite.optimize_binpack(spark, tdir)


def test_binpack_conflicts_on_concurrent_dv_delete(spark, tdir, monkeypatch):
    """optimize_binpack checks for DVs only at plan time; a concurrent
    delete_where_dv removes no files, so without the expect_dvs pin the
    rebase would land a consolidated file rebuilt from PRE-delete rows
    while carrying the DV forward — resurrecting the deleted rows and
    dangling the sidecar (round-15 ADVICE).  The loser must raise."""
    small = spark.createDataFrame(
        [(i, "y") for i in range(12)], "k bigint, v string")
    acid_lite.create_table(spark, tdir, small.repartition(6))      # v1
    orig_write = acid_lite._write_files
    state = {"raced": False}

    def racing_write(df, path, **kw):
        files = orig_write(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            acid_lite.delete_where_dv(spark, tdir, "k", lo=3, hi=3)
        return files

    monkeypatch.setattr(acid_lite, "_write_files", racing_write)
    with pytest.raises(acid_lite.ConcurrentModification, match="deletion"):
        acid_lite.optimize_binpack(spark, tdir, target_file_bytes=10**7)
    # the DV delete (winner) is intact; the loser changed nothing
    assert {r.k for r in acid_lite.read(spark, tdir).collect()} == \
        set(range(12)) - {3}


def test_identity_columns_assign_unique_monotone(spark, tdir):
    """IDENTITY columns (round 16 — Delta GENERATED ALWAYS AS
    IDENTITY): engine-assigned on create and append, unique,
    step-aligned, monotone across commits, gaps allowed; supplying
    the column is refused (ALWAYS semantics)."""
    mk = lambda rows, s: spark.createDataFrame(rows, s)
    acid_lite.create_table(
        spark, tdir, mk([(1, "a"), (2, "b")], "k bigint, v string")
        .coalesce(1), identity={"sid": {"start": 100, "step": 3}})
    acid_lite.append(
        spark, tdir,
        mk([(3, "c"), (4, "d")], "k bigint, v string").repartition(2))
    rows = {r.k: r.sid for r in acid_lite.read(spark, tdir).collect()}
    sids = list(rows.values())
    assert len(set(sids)) == 4
    assert all((s - 100) % 3 == 0 and s >= 100 for s in sids)
    # monotone across commits: every append id beyond create's max
    assert min(rows[3], rows[4]) > max(rows[1], rows[2])
    with pytest.raises(ValueError, match="engine-assigned"):
        acid_lite.append(
            spark, tdir, mk([(9, "z", 5)],
                            "k bigint, v string, sid bigint"))
    # negative step runs downward
    import tempfile
    t2 = tempfile.mkdtemp() + "/t2"
    acid_lite.create_table(
        spark, t2, mk([(1, "a")], "k bigint, v string").coalesce(1),
        identity={"sid": {"start": 0, "step": -1}})
    acid_lite.append(spark, t2,
                     mk([(2, "b")], "k bigint, v string").coalesce(1))
    got = {r.k: r.sid for r in acid_lite.read(spark, t2).collect()}
    assert got[1] == 0 and got[2] < 0


def test_identity_restamps_when_losing_append_race(spark, tdir,
                                                   monkeypatch):
    """Two appends stamping from the same identity high-water would
    land overlapping values; the version-race loser must RE-STAMP
    against the winner's manifest instead of rebasing its stale ids
    (identity is append state file-set comparison cannot see)."""
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v string")
    acid_lite.create_table(
        spark, tdir, mk([(1, "a")]).coalesce(1),
        identity={"sid": {"start": 1, "step": 1}})
    orig = acid_lite._write_files
    state = {"raced": False}

    def racing(df, path, **kw):
        out = orig(df, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            # a concurrent stamping append lands first
            acid_lite.append(spark, tdir, mk([(2, "b")]).coalesce(1))
        return out

    monkeypatch.setattr(acid_lite, "_write_files", racing)
    acid_lite.append(spark, tdir, mk([(3, "c")]).coalesce(1))
    rows = {r.k: r.sid for r in acid_lite.read(spark, tdir).collect()}
    assert len(set(rows.values())) == 3, rows       # no collision
    assert rows[3] > rows[2] > rows[1]


# --------------------------------------------------------------------
# One publish path: every commit keeps the table's metadata, and a
# manifest name only ever holds a complete manifest
# --------------------------------------------------------------------

_FEATURES = ("mapping", "constraints", "generated", "identity", "sort_order")
_WRITE_OPS = ("append", "append_idempotent", "append_evolve",
              "merge_upsert", "delete_where_dv", "optimize",
              "restore_table")
#: Keys of one commit or one file set, never table metadata.
_NOT_TABLE_KEYS = {"version", "parent", "op", "ts", "txn", "restore_of",
                   "clone_of", "files", "stats", "partitions", "file_spec",
                   "added", "bloom_index", "ndv_sketch"}
#: Table keys each op is meant to change.
_OP_CHANGES = {"append": {"identity"},
               "append_idempotent": {"identity", "txns"},
               "append_evolve": {"identity", "schema"},
               "merge_upsert": set(), "delete_where_dv": {"dvs", "dv_rows"},
               "optimize": set(), "restore_table": set()}
#: (id, v) rows each op leaves on the feature table, whose rows are
#: {1: 10, 2: 20, 4: 40} before it; append_idempotent's equivalent
#: plain op is append (append_evolve's adds a column ``w``), and
#: restore_table goes back past an append of 3.
_BASE_ROWS = {1: 10, 2: 20, 4: 40}
_OP_ROWS = {"append": {**_BASE_ROWS, 3: 30},
            "append_idempotent": {**_BASE_ROWS, 3: 30},
            "append_evolve": {**_BASE_ROWS, 3: 30},
            "merge_upsert": {**_BASE_ROWS, 2: 25, 3: 30},
            "delete_where_dv": {1: 10, 4: 40},
            "optimize": _BASE_ROWS, "restore_table": _BASE_ROWS}


def _vcol(feature: str) -> str:
    return "val" if feature == "mapping" else "v"


@pytest.fixture(scope="module")
def feature_tables(spark, tmp_path_factory):
    """One two-file table per metadata feature, built once; each case
    copies it and runs one write op on the copy."""
    root = tmp_path_factory.mktemp("features")
    out = {}
    for feat in _FEATURES:
        t = str(root / feat)
        mk = lambda rows: spark.createDataFrame(
            rows, "id bigint, v bigint").coalesce(1)
        acid_lite.create_table(
            spark, t, mk([(1, 10), (2, 20)]),
            generated={"g": "v * 2"} if feat == "generated" else None,
            identity=({"rid": {"start": 1, "step": 1}}
                      if feat == "identity" else None))
        acid_lite.append(spark, t, mk([(4, 40)]))
        if feat == "mapping":
            acid_lite.rename_column(t, "v", "val")
        elif feat == "constraints":
            acid_lite.add_check_constraint(spark, t, "v_pos", "v > 0")
        elif feat == "sort_order":
            acid_lite.set_sort_order(t, ["v"])
        out[feat] = t
    return out


@pytest.mark.parametrize("feature", _FEATURES)
@pytest.mark.parametrize("op", _WRITE_OPS)
def test_every_write_op_keeps_table_metadata(spark, tmp_path,
                                             feature_tables, op, feature):
    """Each write op commits through the one keep-by-default publish:
    the new manifest keeps every table key the op does not mean to
    change, and the table reads the rows the equivalent plain op gives.
    append_idempotent used to commit through a second writer that
    dropped mapping (rows read NULL), constraints and identity, and
    skipped the CHECK / generated-column / identity gate; append_evolve
    never stamped identity values (its rows read NULL)."""
    import shutil

    t = str(tmp_path / "t")
    shutil.copytree(feature_tables[feature], t)
    vcol = _vcol(feature)
    batch = lambda rows: spark.createDataFrame(
        rows, f"id bigint, {vcol} bigint").coalesce(1)
    if op == "restore_table":
        target = acid_lite.latest_version(t)
        acid_lite.append(spark, t, batch([(3, 30)]))
    parent = acid_lite.latest_version(t)
    if op == "merge_upsert" and feature == "identity":
        with pytest.raises(ValueError, match="IDENTITY"):
            acid_lite.merge_upsert(spark, t, batch([(3, 30)]), key="id")
        assert acid_lite.latest_version(t) == parent
        return
    if op == "append":
        v = acid_lite.append(spark, t, batch([(3, 30)]))
    elif op == "append_idempotent":
        v = acid_lite.append_idempotent(spark, t, batch([(3, 30)]), "tx1")
        assert acid_lite.append_idempotent(
            spark, t, batch([(3, 30)]), "tx1") == v  # re-delivery
    elif op == "append_evolve":
        v = acid_lite.append_evolve(spark, t, spark.createDataFrame(
            [(3, 30, 7)], f"id bigint, {vcol} bigint, w bigint"))
        assert acid_lite._read_manifest(t, v)["schema"] == \
            acid_lite._read_manifest(t, parent)["schema"] + ", w bigint"
    elif op == "merge_upsert":
        v = acid_lite.merge_upsert(
            spark, t, batch([(2, 25), (3, 30)]), key="id")
    elif op == "delete_where_dv":
        v = acid_lite.delete_where_dv(spark, t, "id", lo=2, hi=2)
    elif op == "optimize":
        v = acid_lite.optimize(spark, t)
    else:
        v = acid_lite.restore_table(t, version=target, spark=spark)
    assert v == parent + 1
    base = acid_lite._read_manifest(
        t, target if op == "restore_table" else parent)
    new = acid_lite._read_manifest(t, v)
    skip = _NOT_TABLE_KEYS | _OP_CHANGES[op]
    assert {k: x for k, x in new.items() if k not in skip} == \
        {k: x for k, x in base.items() if k not in skip}
    if feature == "identity":
        assert {c: {**s, "hw": 0} for c, s in new["identity"].items()} == \
            {c: {**s, "hw": 0} for c, s in base["identity"].items()}
    rows = acid_lite.read(spark, t).collect()
    assert {r.id: r[vcol] for r in rows} == _OP_ROWS[op]
    if feature == "generated":
        assert all(r.g == 2 * r.v for r in rows)
    if feature == "identity":
        rids = [r.rid for r in rows]
        assert None not in rids and len(set(rids)) == len(rids)
    if feature == "constraints" and op in ("append", "append_idempotent",
                                           "append_evolve", "merge_upsert"):
        bad = batch([(9, -5)])
        with pytest.raises(acid_lite.ConstraintViolation):
            if op == "append":
                acid_lite.append(spark, t, bad)
            elif op == "append_evolve":
                acid_lite.append_evolve(spark, t, bad)
            elif op == "append_idempotent":
                acid_lite.append_idempotent(spark, t, bad, "tx-bad")
            else:
                acid_lite.merge_upsert(spark, t, bad, key="id")
        assert acid_lite.latest_version(t) == v


def test_publish_crash_before_link_keeps_parent(spark, tdir, monkeypatch):
    """A commit that dies after writing its manifest temp file and
    before linking it leaves no ``v{N}.json`` at all: the table still
    reads the parent, a retry commits the same version, and the orphan
    sweep reaps the temp.  The old create-then-write publish could
    leave an empty ``v2.json`` that every later read and append failed
    to parse."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    mdir = os.path.join(tdir, "manifests")

    def crash(src, dst):
        raise OSError("simulated crash before link")

    monkeypatch.setattr(os, "link", crash)
    with pytest.raises(OSError, match="simulated crash"):
        acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    monkeypatch.undo()
    assert acid_lite.latest_version(tdir) == 1
    assert [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a")}
    assert acid_lite.append(spark, tdir, _df(spark, [(2, "b")])) == 2
    acid_lite.remove_orphan_files(tdir, grace_seconds=-1)
    assert sorted(os.listdir(mdir)) == ["v1.json", "v2.json"]
    assert {(r.k, r.v) for r in acid_lite.read(spark, tdir).collect()} \
        == {(1, "a"), (2, "b")}


def test_clone_and_branch_read_their_own_appends_under_a_default(
        spark, tdir, tmp_path):
    """A source's initial default keys its files by SOURCE version
    numbers, so it must not carry into a clone or branch: there a file
    appended at the clone's v2 would count as older than a default
    added at the source's v3 and read the default in place of its
    stored value (explicit values and NULLs alike)."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    assert acid_lite.add_column_default(tdir, "c", "bigint", 7) == 3
    rows = spark.createDataFrame(
        [(8, "x", 5), (9, "y", None)], "k bigint, v string, c bigint")
    clone = str(tmp_path / "clone")
    acid_lite.shallow_clone(tdir, clone)
    bp = acid_lite.create_branch(tdir, "dev")
    for t in (clone, bp):
        assert acid_lite.append(spark, t, rows) == 2
        got = {r.k: r.c for r in acid_lite.read(spark, t).collect()
               if r.k >= 8}
        assert got == {8: 5, 9: None}


def test_initial_default_follows_rename_and_drop(spark, tdir):
    """An initial default is keyed by logical name: a rename carries it
    to the new name, and a drop removes it, so a re-added column of the
    dropped name reads NULL on rows written before it was added."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.add_column_default(tdir, "c", "bigint", 7)
    acid_lite.add_column_default(tdir, "d", "bigint", 8)
    acid_lite.rename_column(tdir, "c", "c2")
    acid_lite.drop_column(tdir, "d")
    acid_lite.append_evolve(spark, tdir, spark.createDataFrame(
        [(3, "c", 70, 100)], "k bigint, v string, c2 bigint, d bigint"))
    got = {(r.k, r.c2, r.d) for r in acid_lite.read(spark, tdir).collect()}
    assert got == {(1, 7, None), (3, 70, 100)}


def test_default_and_lineage_read_after_expire_snapshots(spark, tdir):
    """Each file's adding version is kept in the manifest, so a table
    with an initial default, and its row lineage, still read the same
    once the versions that added its files are expired."""
    acid_lite.create_table(spark, tdir, _df(spark, [(1, "a")]))
    acid_lite.append(spark, tdir, _df(spark, [(2, "b")]))
    assert acid_lite.add_column_default(tdir, "c", "bigint", 7) == 3
    lineage = sorted(map(tuple, acid_lite.read_with_lineage(
        spark, tdir).collect()))
    acid_lite.expire_snapshots(tdir, keep_from=3)
    assert sorted((r.k, r.c) for r in acid_lite.read(spark, tdir).collect()) \
        == [(1, 7), (2, 7)]
    after = acid_lite.read_with_lineage(spark, tdir).collect()
    assert sorted(map(tuple, after)) == lineage
    assert {r.k: r._commit_version for r in after} == {1: 1, 2: 2}


def test_branch_publish_never_repeats_identity_values(spark, tdir):
    """The identity high-water stays with its table: a branch does not
    stamp from main's clone-point high-water, so values main assigns
    after a publish never repeat ones already in the table."""
    acid_lite.create_table(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]).coalesce(1),
        identity={"sid": {"start": 1, "step": 1}})
    bp = acid_lite.create_branch(tdir, "dev")
    acid_lite.append(spark, bp, _df(spark, [(3, "c")]))
    acid_lite.publish_branch(spark, tdir, "dev")
    acid_lite.append(spark, tdir, _df(spark, [(4, "d"), (5, "e")]))
    sids = [r.sid for r in acid_lite.read(spark, tdir).collect()
            if r.sid is not None]
    assert len(sids) == len(set(sids)) == 4
