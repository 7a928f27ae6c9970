"""Behavior tests for the round-9 lakehouse write-path keys:
merge-on-read deletes, optimistic commit conflicts, row-level CDC."""

from __future__ import annotations

import os

import pytest
from conftest import SF_DIR

from reports_generator_spark.plans import registry
from reports_generator_spark.storage import (
    CommitConflict,
    commit_with_conflict_detection,
)

registry.load_all()


# --------------------------------------------------------------------------
# commit_with_conflict_detection: the protocol branches, unit-level
# (pure filesystem — no Spark needed)
# --------------------------------------------------------------------------
@pytest.fixture()
def log(tmp_path):
    base = str(tmp_path)
    with open(os.path.join(base, "manifest-v1.txt"), "w") as f:
        f.write("b1\nb2")
    return base


def _read(base, v):
    with open(os.path.join(base, f"manifest-v{v}.txt")) as f:
        return f.read().split()


def test_commit_uncontended_publishes_next_version(log):
    v, retries = commit_with_conflict_detection(
        log, 1, add=["b3"], remove=[], read_set=set()
    )
    assert (v, retries) == (2, 0)
    assert _read(log, 2) == ["b1", "b2", "b3"]


def test_commit_retry_branch_rebases_independent_append(log):
    # writer A wins v2 (replaces b1)
    commit_with_conflict_detection(log, 1, add=["b1c"], remove=["b1"], read_set={"b1"})
    # writer B raced against v1; append is independent -> rebase onto v2
    v, retries = commit_with_conflict_detection(
        log, 1, add=["b3"], remove=[], read_set=set()
    )
    assert (v, retries) == (3, 1)
    # the rebase must carry A's replacement, not resurrect b1
    # (manifest line order is not semantic: remove-then-append)
    assert set(_read(log, 3)) == {"b1c", "b2", "b3"}


def test_commit_abort_branch_on_removed_read_set(log):
    commit_with_conflict_detection(log, 1, add=["b1c"], remove=["b1"], read_set={"b1"})
    with pytest.raises(CommitConflict, match="b1"):
        commit_with_conflict_detection(
            log, 1, add=["b1c2"], remove=["b1"], read_set={"b1"}
        )
    # the abort must not have published a version
    assert not os.path.exists(os.path.join(log, "manifest-v3.txt"))


def test_commit_abort_leaves_no_tmp_debris(log):
    commit_with_conflict_detection(log, 1, add=["b1c"], remove=["b1"], read_set={"b1"})
    with pytest.raises(CommitConflict):
        commit_with_conflict_detection(
            log, 1, add=["b1c2"], remove=["b1"], read_set={"b1"}
        )
    assert not [f for f in os.listdir(log) if f.endswith(".tmp")]


def test_commit_aba_removed_then_readded_name_still_aborts(log):
    """ABA: a read_set file removed by one intervening commit and
    re-added under the SAME NAME by a later one must still abort —
    the re-added file is not the bytes this writer read, so
    validating only against the latest manifest would commit on a
    stale snapshot (the Delta/Iceberg per-commit validation rule)."""
    # v2: compaction removes b1
    commit_with_conflict_detection(log, 1, add=["b1c"], remove=["b1"], read_set={"b1"})
    # v3: unrelated append reuses the name b1
    commit_with_conflict_detection(log, 2, add=["b1"], remove=[], read_set=set())
    assert "b1" in _read(log, 3)  # latest DOES contain b1 again
    with pytest.raises(CommitConflict, match="b1"):
        commit_with_conflict_detection(
            log, 1, add=["b1c2"], remove=["b1"], read_set={"b1"}
        )
    assert not os.path.exists(os.path.join(log, "manifest-v4.txt"))


def test_commit_retry_chain_across_multiple_losses(log):
    # two independent commits land first
    commit_with_conflict_detection(log, 1, add=["b3"], remove=[], read_set=set())
    commit_with_conflict_detection(log, 2, add=["b4"], remove=[], read_set=set())
    # a writer still holding parent v1 rebases twice
    v, retries = commit_with_conflict_detection(
        log, 1, add=["b5"], remove=[], read_set=set()
    )
    assert v == 4 and retries >= 1
    assert set(_read(log, 4)) == {"b1", "b2", "b3", "b4", "b5"}


def test_log_create_refuses_to_overwrite_existing_v1(log):
    """Creating a table goes through the atomic claim: a second create
    on a dir that already holds v1 fails and the first manifest is
    left byte-identical (a plain open(..., "w") would clobber it)."""
    from reports_generator_spark.storage import log_create

    with open(os.path.join(log, "manifest-v1.txt")) as f:
        before = f.read()
    with pytest.raises(FileExistsError):
        log_create(log, ["other"])
    with open(os.path.join(log, "manifest-v1.txt")) as f:
        assert f.read() == before
    assert not [f for f in os.listdir(log) if f.endswith(".tmp")]


def test_half_built_fixture_dir_is_rebuilt(tmp_path):
    """A fixture dir without the build-once marker (a crash mid-build)
    is wiped and reported as needing a build; once marked, it is kept
    as is."""
    from reports_generator_spark.storage import mark_built, needs_build

    base = str(tmp_path / "fx")
    os.makedirs(base)
    with open(os.path.join(base, "partial.parquet"), "w") as f:
        f.write("torn")
    assert needs_build(base)
    assert not os.path.exists(base)  # half-built leftovers are gone

    os.makedirs(base)
    with open(os.path.join(base, "done.parquet"), "w") as f:
        f.write("whole")
    mark_built(base)
    assert not needs_build(base)
    assert os.path.exists(os.path.join(base, "done.parquet"))


# --------------------------------------------------------------------------
# delete_merge_on_read_dv: no data file rewritten; result == COW result
# --------------------------------------------------------------------------
def test_mor_delete_rewrites_zero_files_and_matches_cow(spark):
    mor = registry.QUERIES["delete_merge_on_read_dv"](spark, SF_DIR).first()
    assert mor["n_data_files_rewritten"] == 0
    cow = registry.QUERIES["delete_copy_on_write"](spark, SF_DIR).first()
    # same predicate, two delete strategies: the surviving relation
    # must be bit-identical
    assert mor["rows_before"] == cow["rows_before"]
    assert mor["rows_deleted"] == cow["rows_deleted"]
    assert mor["rows_after"] == cow["rows_after"]
    assert mor["survivor_checksum"] == cow["survivor_checksum"]


def test_mor_read_path_broadcasts_the_deletion_vector(spark):
    df = registry.QUERIES["delete_merge_on_read_dv"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # anti-join against the DV sidecar, BROADCAST — the 100 TB fact
    # side must never shuffle against a KB-scale key set, so assert
    # the physical join strategy, not just the join type
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# --------------------------------------------------------------------------
# table_changes_cdc_versions: file-granularity pruning + row semantics
# --------------------------------------------------------------------------
def test_cdc_never_scans_unchanged_files(spark):
    df = registry.QUERIES["table_changes_cdc_versions"](spark, SF_DIR)
    scanned = df.inputFiles()
    assert scanned, "CDC scan must read the changed files"
    assert not [f for f in scanned if "f-keep" in f], (
        "files present in both versions must stay cold"
    )


def test_cdc_change_types_partition_the_key_space(spark):
    rows = registry.QUERIES["table_changes_cdc_versions"](spark, SF_DIR).collect()
    by_type: dict[str, list] = {"insert": [], "update": [], "delete": []}
    for r in rows:
        by_type[r["change_type"]].append(r)
    # inserts carry post only, deletes pre only, updates both
    assert all(r["pre_cents"] is None and r["post_cents"] is not None
               for r in by_type["insert"])
    assert all(r["pre_cents"] is not None and r["post_cents"] is None
               for r in by_type["delete"])
    assert all(r["pre_cents"] is not None
               and r["post_cents"] == r["pre_cents"] + 100
               for r in by_type["update"])
    # each key appears exactly once (updates are single pre+post rows)
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys))
    # the slices are the documented residue classes
    assert all(r["o_orderkey"] % 7 == 3 for r in by_type["delete"])
    assert all(r["o_orderkey"] % 7 == 1 for r in by_type["update"])
    assert all(r["o_orderkey"] % 5 == 0 and r["o_orderkey"] % 7 not in (1, 3)
               for r in by_type["insert"])
    assert by_type["insert"] and by_type["update"] and by_type["delete"]


def test_cdc_pure_compaction_emits_no_rows(spark):
    """A file rewritten with identical rows (compaction) is not a row
    change — driven through the PRODUCTION cdc_row_diff (the same
    function table_changes_cdc_versions returns), not a re-spelled
    copy of its filter."""
    from pyspark.sql import functions as F

    from reports_generator_spark.plans.scale_joins import cdc_row_diff

    # v1 -> v2: ids 0-9 rewritten identically (compaction), 10-11
    # genuinely updated, 12 deleted, 13 inserted
    pre = spark.range(13).select(
        F.col("id").alias("o_orderkey"), (F.col("id") * 7).alias("pre_cents")
    )
    post = (
        spark.range(14)
        .filter("id != 12")
        .select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") * 7 + F.when(F.col("id").isin(10, 11), 1).otherwise(0))
            .alias("post_cents"),
        )
    )
    rows = {r["o_orderkey"]: r["change_type"]
            for r in cdc_row_diff(pre, post).collect()}
    # the 10 compaction rows emit NOTHING; the real changes all appear
    assert rows == {10: "update", 11: "update", 12: "delete", 13: "insert"}


def test_dv_compaction_equals_mor_and_cow(spark):
    """write-cheap (MOR), read-merged, and compacted must be three
    routes to the same relation; compaction must touch only the
    partitions the DV implies and leave no sidecar behind."""
    comp = registry.QUERIES["compact_merge_deletion_vectors"](spark, SF_DIR).first()
    mor = registry.QUERIES["delete_merge_on_read_dv"](spark, SF_DIR).first()
    assert comp["rows_after"] == mor["rows_after"]
    assert comp["survivor_checksum"] == mor["survivor_checksum"]
    assert comp["dv_files_remaining"] == 0
    # rewrite granularity matches the COW delete's (same predicate)
    cow = registry.QUERIES["delete_copy_on_write"](spark, SF_DIR).first()
    assert comp["n_parts_rewritten"] == cow["n_parts_rewritten"]


def test_conf_mutating_key_restores_on_builder_exception(spark):
    """A failure INSIDE a conf-mutating builder must not leak degraded
    session confs to whatever runs next (ADVICE r8): the V2-reader /
    pushdown overrides are restored by the except path, not left for
    the next key's tune()."""
    import pytest as _pt

    from reports_generator_spark.plans.scale_joins import (
        agg_pushdown_parquet_stats,
    )
    from reports_generator_spark.session import RUNTIME_CONF

    with _pt.raises(Exception):
        # nonexistent dir -> spark.read.parquet raises inside the builder
        agg_pushdown_parquet_stats(spark, "/nonexistent/sfdir")
    assert (
        spark.conf.get("spark.sql.sources.useV1SourceList")
        == RUNTIME_CONF["spark.sql.sources.useV1SourceList"]
    )
    assert (
        spark.conf.get("spark.sql.parquet.aggregatePushdown")
        == RUNTIME_CONF["spark.sql.parquet.aggregatePushdown"]
    )


def test_wap_rejected_batch_never_becomes_visible(spark):
    """The red-audit candidate must not appear in any published
    version, and the staged dir must remain on disk as an orphan
    (vacuum's territory, not the publisher's)."""
    import glob
    import os as _os
    import tempfile as _tf

    row = registry.QUERIES["sink_write_audit_publish"](spark, SF_DIR).first()
    assert row["final_version"] == 2
    assert row["n_published"] == 1 and row["n_rejected"] == 1
    assert row["good_batch_violations"] == 0
    assert row["bad_batch_violations"] > 0
    # the fixture lives under tempfile.gettempdir(), not literal /tmp
    base = glob.glob(_os.path.join(_tf.gettempdir(), "rg_wap_*"))
    assert base, "WAP fixture dir must exist"
    b = max(base, key=_os.path.getmtime)
    with open(_os.path.join(b, "manifest-v2.txt")) as f:
        published = f.read().split()
    assert "cand-bad" not in published and "cand-good" in published
    # the rejected batch is staged-but-orphaned
    assert _os.path.exists(_os.path.join(b, "data", "cand-bad"))


def test_wap_row_local_audit_reads_staged_files_only(spark, tmp_path):
    """Audit economics: for row-local expectation rules, the audit
    frame must scan the STAGED batch only — its inputFiles must not
    include any published base file (at 100 TB the base rescan is the
    difference between a cheap gate and an unaffordable one)."""
    from pyspark.sql import functions as F

    from reports_generator_spark.plans.scale_joins import wap_audit_row_local

    base_dir = str(tmp_path / "base")
    staged_dir = str(tmp_path / "staged")
    t = spark.range(20).select(
        F.col("id").alias("o_orderkey"), (F.col("id") + 1).alias("cents")
    )
    t.filter(F.col("o_orderkey") % 2 == 0).write.parquet(base_dir)
    t.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "cents",
        F.when(F.col("o_orderkey") == 11, F.lit(-1)).otherwise(F.col("cents")),
    ).write.parquet(staged_dir)

    audit = wap_audit_row_local(spark, staged_dir)
    assert audit.count() == 1  # the planted violation is found
    scanned = audit.inputFiles()
    assert scanned, "audit must actually read the staged files"
    assert all("staged" in p for p in scanned), scanned
    assert not any("base" in p for p in scanned), scanned


def test_dv_compaction_drops_fully_emptied_partition(spark, tmp_path):
    """The dynamic-overwrite boundary: a partition whose rows are ALL
    deleted gets zero survivor rows, which dynamic overwrite cannot
    drop — the compaction pass must remove it explicitly or the
    deleted rows RESURRECT on the next plain scan."""
    from pyspark.sql import functions as F

    from reports_generator_spark.plans.scale_joins import compact_away_dv

    data = str(tmp_path / "data")
    dv_dir = str(tmp_path / "_deletes")
    # 2 partitions: fid 0 holds keys 0-4, fid 1 holds keys 5-9
    lake = spark.range(10).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") / 5).cast("bigint").alias("fid"),
    )
    lake.write.partitionBy("fid").parquet(data)
    # DV deletes ALL of partition 0 and one row of partition 1
    spark.range(6).select(F.col("id").alias("o_orderkey")).write.parquet(dv_dir)

    n = compact_away_dv(
        spark, data, dv_dir, (F.col("o_orderkey") / 5).cast("bigint")
    )
    assert n == 2  # one rewritten, one dropped
    back = spark.read.parquet(data)
    assert sorted(r["o_orderkey"] for r in back.collect()) == [6, 7, 8, 9]
    import os as _os

    assert not _os.path.exists(_os.path.join(data, "fid=0"))
    assert not _os.path.exists(dv_dir)


def test_dv_compaction_retry_after_crash_window_is_idempotent(spark, tmp_path):
    """Crash-safety: the sidecar is removed LAST, so a run that dies
    between the partition overwrite and the emptied-dir/sidecar
    cleanup leaves (rewritten survivors + stale emptied dir + DV).
    A retry must re-derive everything from the surviving DV and
    converge to the same final state — no resurrection, no double
    deletion."""
    from pyspark.sql import functions as F

    from reports_generator_spark.plans.scale_joins import compact_away_dv

    data = str(tmp_path / "data")
    dv_dir = str(tmp_path / "_deletes")
    fid_of = (F.col("o_orderkey") / 5).cast("bigint")
    lake = spark.range(10).select(
        F.col("id").alias("o_orderkey"), fid_of.alias("fid")
    )
    lake.write.partitionBy("fid").parquet(data)
    dv = spark.range(6).select(F.col("id").alias("o_orderkey"))
    dv.write.parquet(dv_dir)

    # simulate the crash window: the overwrite COMMITTED (fid=1 holds
    # only its survivors) but the run died before dropping the emptied
    # fid=0 dir and the sidecar
    spark.createDataFrame([(k, 1) for k in (6, 7, 8, 9)], "o_orderkey long, fid long") \
        .write.partitionBy("fid").mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic").parquet(data)
    import os as _os

    assert _os.path.exists(_os.path.join(data, "fid=0"))  # stale, pre-retry
    assert _os.path.exists(dv_dir)

    # a reader BETWEEN crash and retry still merges the DV: no
    # deleted row is ever visible
    merged = spark.read.parquet(data).join(
        spark.read.parquet(dv_dir), "o_orderkey", "left_anti"
    )
    assert sorted(r["o_orderkey"] for r in merged.collect()) == [6, 7, 8, 9]

    # the retry converges
    compact_away_dv(spark, data, dv_dir, fid_of)
    back = spark.read.parquet(data)
    assert sorted(r["o_orderkey"] for r in back.collect()) == [6, 7, 8, 9]
    assert not _os.path.exists(_os.path.join(data, "fid=0"))
    assert not _os.path.exists(dv_dir)


# --------------------------------------------------------------------------
# Round-10 metadata scaling: snapshot expiry + checkpointed delta log
# --------------------------------------------------------------------------
def _mklog(base, versions):
    """Write a full-file-list manifest log: versions = [[files...], ...]."""
    for i, files in enumerate(versions, start=1):
        with open(os.path.join(base, f"manifest-v{i}.txt"), "w") as f:
            f.write("\n".join(files))


def test_expire_snapshots_retention_boundary(tmp_path):
    from reports_generator_spark.storage import expire_snapshots

    base = str(tmp_path)
    _mklog(base, [["b0"], ["b0", "b1"], ["b0c", "b1"], ["b0c", "b1", "b2"]])

    expired, unref = expire_snapshots(base, keep_last_n=2)
    assert expired == [1, 2]
    # b0 was referenced only by expired versions; b0c/b1 stay live
    assert unref == ["b0"]
    assert not os.path.exists(os.path.join(base, "manifest-v1.txt"))
    assert not os.path.exists(os.path.join(base, "manifest-v2.txt"))
    assert os.path.exists(os.path.join(base, "manifest-v3.txt"))
    assert os.path.exists(os.path.join(base, "manifest-v4.txt"))


def test_expire_snapshots_keep_all_is_noop(tmp_path):
    from reports_generator_spark.storage import expire_snapshots

    base = str(tmp_path)
    _mklog(base, [["b0"], ["b0", "b1"]])
    expired, unref = expire_snapshots(base, keep_last_n=5)
    assert expired == [] and unref == []
    assert os.path.exists(os.path.join(base, "manifest-v1.txt"))


def test_expire_snapshots_must_keep_at_least_one(tmp_path):
    from reports_generator_spark.storage import expire_snapshots

    base = str(tmp_path)
    _mklog(base, [["b0"]])
    with pytest.raises(ValueError):
        expire_snapshots(base, keep_last_n=0)


def test_expire_snapshots_file_shared_with_live_version_survives(tmp_path):
    """A file referenced by BOTH an expired and a kept version must
    NOT be reported vacuumable — deleting it would corrupt a live
    snapshot."""
    from reports_generator_spark.storage import expire_snapshots

    base = str(tmp_path)
    _mklog(base, [["shared", "old"], ["shared", "new"]])
    expired, unref = expire_snapshots(base, keep_last_n=1)
    assert expired == [1]
    assert unref == ["old"]  # "shared" is still live


def test_delta_log_checkpoint_and_replay_agree(tmp_path):
    from reports_generator_spark.plans.lakehouse_meta import (
        _CKPT_EVERY,
        delta_commit,
        read_snapshot_checkpointed,
        replay_deltas,
    )

    base = str(tmp_path)
    v = 0
    for i in range(2 * _CKPT_EVERY + 3):
        v = delta_commit(base, v, add=[f"s{i}"], remove=[])
    v = delta_commit(base, v, add=["c01"], remove=["s0", "s1"])

    ckpt_files, ckpt_reads = read_snapshot_checkpointed(base)
    naive_files, naive_reads = replay_deltas(base)
    assert ckpt_files == naive_files
    assert "s0" not in ckpt_files and "c01" in ckpt_files
    # the whole point: metadata reads bounded by the checkpoint interval
    assert ckpt_reads <= 1 + _CKPT_EVERY
    assert naive_reads == v


def test_delta_log_read_before_first_checkpoint(tmp_path):
    """With no checkpoint yet, the reader degrades to a full replay —
    correct, just not yet O(1)."""
    from reports_generator_spark.plans.lakehouse_meta import (
        delta_commit,
        read_snapshot_checkpointed,
    )

    base = str(tmp_path)
    v = delta_commit(base, 0, add=["a"], remove=[])
    delta_commit(base, v, add=["b"], remove=[])
    files, reads = read_snapshot_checkpointed(base)
    assert files == {"a", "b"} and reads == 2


def test_mor_manifest_dv_position_is_semantic(spark, tmp_path):
    """A dv: entry suppresses keys only in files listed BEFORE it —
    rows appended by the same MERGE commit (listed after) must
    survive, otherwise an upsert would delete its own updates."""
    from pyspark.sql import functions as F

    from reports_generator_spark.plans.lakehouse_meta import read_mor_snapshot

    base = str(tmp_path)
    data = os.path.join(base, "data")
    os.makedirs(data)
    old = spark.createDataFrame([(1, 10), (2, 20)], "o_orderkey long, cents long")
    new = spark.createDataFrame([(1, 99)], "o_orderkey long, cents long")
    dv = spark.createDataFrame([(1,)], "o_orderkey long")
    old.write.parquet(os.path.join(data, "old"))
    new.write.parquet(os.path.join(data, "new"))
    dv.write.parquet(os.path.join(data, "dv1"))
    with open(os.path.join(base, "manifest-v1.txt"), "w") as f:
        f.write("old\ndv:dv1\nnew")

    rows = {
        (r["o_orderkey"], r["cents"])
        for r in read_mor_snapshot(spark, base, data, 1).collect()
    }
    # key 1's OLD version suppressed, NEW version (after the dv) kept
    assert rows == {(1, 99), (2, 20)}


# --------------------------------------------------------------------------
# Round-10 second batch: incremental MV, hidden partitioning
# --------------------------------------------------------------------------
def test_mv_maintenance_never_scans_unchanged_base(spark):
    """The maintenance pass reads the stored MV + the CHANGED files
    only — the unchanged base file (f-keep) must stay cold, or MV
    refresh is O(table) instead of O(changes)."""
    df = registry.QUERIES["mv_incremental_maintenance"](spark, SF_DIR)
    scanned = df.inputFiles()
    assert scanned, "the delta side must read the changed files"
    assert not [f for f in scanned if "f-keep" in f], scanned


def test_hidden_partitioning_scans_only_derived_partitions(spark):
    """The raw-column predicate must prune through the transforms:
    exactly 2 partitions (p_year∈{1996,1997} × p_bucket=0) of the ~56
    laid out may be touched. Asserted from the EXECUTED scan's
    numPartitions metric — inputFiles() reflects the pre-pruning file
    index, so it cannot see partition pruning."""
    df = registry.QUERIES["scan_hidden_partitioning_transforms"](spark, SF_DIR)
    df.collect()

    def scan_partitions(node):
        if "Scan" in node.nodeName():
            m = node.metrics()
            it = m.keysIterator()
            while it.hasNext():
                k = it.next()
                if k == "numPartitions":
                    return m.apply(k).value()
        for i in range(node.children().size()):
            got = scan_partitions(node.children().apply(i))
            if got is not None:
                return got
        return None

    n_parts = scan_partitions(df._jdf.queryExecution().executedPlan())
    assert n_parts == 2, n_parts


# --------------------------------------------------------------------------
# Round-10 third batch: positional bitmap DVs, column mapping, AS OF ts
# --------------------------------------------------------------------------
def test_positional_bitmap_dv_equals_keyset_mor(spark):
    """Three delete representations, one relation: the positional
    bitmap DV's surviving (count, checksum) must equal the key-set
    MOR's — they share the oracle text, this pins it engine-side."""
    pos = registry.QUERIES["delete_mor_dv_positional_bitmap"](spark, SF_DIR).first()
    ks = registry.QUERIES["delete_merge_on_read_dv"](spark, SF_DIR).first()
    assert pos["n_data_files_rewritten"] == 0
    assert pos["rows_before"] == ks["rows_before"]
    assert pos["rows_deleted"] == ks["rows_deleted"]
    assert pos["rows_after"] == ks["rows_after"]
    assert pos["survivor_checksum"] == ks["survivor_checksum"]


def test_positional_bitmap_dv_read_broadcasts(spark):
    df = registry.QUERIES["delete_mor_dv_positional_bitmap"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_mapping_rename_touches_no_data_file(spark):
    """The rename is a metadata-only commit: reading through mapping
    v1 and v2 returns the same bytes under different logical names,
    and no data file changes between the reads."""
    import glob

    from reports_generator_spark.plans.lakehouse_meta import (
        _ensure_colmap_table,
        read_with_column_mapping,
    )

    base = _ensure_colmap_table(spark, SF_DIR)
    files = sorted(glob.glob(os.path.join(base, "data", "*.parquet")))
    mtimes_before = [os.path.getmtime(f) for f in files]

    v1 = read_with_column_mapping(spark, base, 1)
    v2 = read_with_column_mapping(spark, base, 2)
    assert v1.columns == ["o_orderkey", "cents"]
    assert v2.columns == ["o_orderkey", "amount_cents"]
    # same physical bytes under both mappings
    a = v1.agg({"cents": "sum"}).first()[0]
    b = v2.agg({"amount_cents": "sum"}).first()[0]
    assert a == b

    mtimes_after = [os.path.getmtime(f) for f in files]
    assert mtimes_before == mtimes_after

    # the dropped logical name fails cleanly post-rename
    with pytest.raises(Exception):
        v2.select("cents").collect()


def test_as_of_timestamp_resolution_semantics():
    from reports_generator_spark.plans.lakehouse_meta import (
        _ASOF_COMMITS,
        resolve_as_of,
    )

    # mid-interval -> latest commit at or before
    assert resolve_as_of("2024-01-02 12:00:00") == 2
    # exact boundary is INCLUSIVE
    assert resolve_as_of(_ASOF_COMMITS[3]) == 3
    # after the last commit -> latest
    assert resolve_as_of("2030-01-01 00:00:00") == 3
    # before the first commit -> clean error, never an empty table
    with pytest.raises(ValueError):
        resolve_as_of("2023-01-01 00:00:00")


def test_commit_against_expired_snapshot_raises_commit_conflict(log):
    """A writer whose parent snapshot was expired by a concurrent
    retention pass must get CommitConflict (re-read and retry), never
    a raw FileNotFoundError the OCC callers don't handle."""
    from reports_generator_spark.storage import expire_snapshots

    commit_with_conflict_detection(log, 1, add=["b3"], remove=[], read_set=set())
    commit_with_conflict_detection(log, 2, add=["b4"], remove=[], read_set=set())
    expire_snapshots(log, keep_last_n=1)  # drops manifests v1, v2
    with pytest.raises(CommitConflict, match="expired"):
        commit_with_conflict_detection(
            log, 1, add=["b5"], remove=[], read_set={"b1"}
        )


def test_delta_checkpoint_builds_from_previous_checkpoint(tmp_path, monkeypatch):
    """Checkpoint creation must fold from the PREVIOUS checkpoint
    (1 + ≤K metadata reads), not replay history from v1 — otherwise
    the write path accumulates O(v²/K) metadata I/O as the table
    ages."""
    from reports_generator_spark.plans import lakehouse_meta as lm

    base = str(tmp_path)
    reads = {"n": 0}
    real_replay = lm.replay_deltas

    def counting_replay(*a, **kw):
        files, n = real_replay(*a, **kw)
        reads["n"] += n
        return files, n

    monkeypatch.setattr(lm, "replay_deltas", counting_replay)
    v = 0
    for i in range(3 * lm._CKPT_EVERY):
        reads["n"] = 0
        v = lm.delta_commit(base, v, add=[f"s{i}"], remove=[])
        # even at the 3rd checkpoint, a single commit's metadata reads
        # stay bounded by the interval, not the history
        assert reads["n"] <= lm._CKPT_EVERY
    files, _ = lm.read_snapshot_checkpointed(base)
    assert files == {f"s{i}" for i in range(3 * lm._CKPT_EVERY)}


def test_delta_log_writes_are_atomic_no_tmp_debris(tmp_path):
    from reports_generator_spark.plans import lakehouse_meta as lm

    base = str(tmp_path)
    v = 0
    for i in range(lm._CKPT_EVERY + 1):
        v = lm.delta_commit(base, v, add=[f"s{i}"], remove=[])
    assert not [f for f in os.listdir(base) if f.endswith(".tmp")]


def test_commit_protocol_under_real_concurrency(tmp_path):
    """8 writers × 10 independent appends each, racing from stale
    parents on real threads: the claim-with-content protocol must
    publish ALL 80 commits with no lost update, no torn manifest, no
    tmp debris — the property the sequential branch tests simulate,
    exercised for real."""
    import threading

    base = str(tmp_path)
    with open(os.path.join(base, "manifest-v1.txt"), "w") as f:
        f.write("seed")

    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(10):
                # every writer deliberately commits from a stale parent
                # (v1) — the rebase path must absorb the contention
                commit_with_conflict_detection(
                    base, 1, add=[f"w{wid}-{i}"], remove=[],
                    read_set=set(), max_retries=200,
                )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    final_v = max(
        int(f.split("-v")[1].split(".")[0])
        for f in os.listdir(base)
        if f.startswith("manifest-v") and f.endswith(".txt")
    )
    assert final_v == 81  # 1 seed + 80 commits, no version skipped
    final = set(_read(base, final_v))
    expected = {"seed"} | {f"w{w}-{i}" for w in range(8) for i in range(10)}
    assert final == expected  # every add present exactly once
    assert not [f for f in os.listdir(base) if f.endswith(".tmp")]
    # every intermediate manifest is well-formed (no torn writes)
    for v in range(1, final_v + 1):
        assert _read(base, v)


# --------------------------------------------------------------------------
# named refs (tags / fast-forward branches) + RESTORE — unit-level
# (pure filesystem — no Spark needed)
# --------------------------------------------------------------------------
def test_tag_is_immutable_and_branch_is_ff_only(log):
    from reports_generator_spark.plans.lakehouse_meta import (
        create_tag,
        resolve_ref,
        set_branch_head,
    )

    create_tag(log, "rel", 1)
    with pytest.raises(ValueError, match="immutable"):
        create_tag(log, "rel", 1)

    set_branch_head(log, "main", 1)
    commit_with_conflict_detection(log, 1, add=["b3"], remove=[], read_set=set())
    set_branch_head(log, "main", 2)  # fast-forward: ok
    with pytest.raises(ValueError, match="fast-forward"):
        set_branch_head(log, "main", 1)  # backward: rejected
    assert resolve_ref(log, "main") == 2
    assert resolve_ref(log, "rel") == 1
    with pytest.raises(FileNotFoundError):
        resolve_ref(log, "nope")


def test_restore_is_a_forward_commit_and_conflicts_like_any_writer(log):
    from reports_generator_spark.plans.lakehouse_meta import restore_to_version

    commit_with_conflict_detection(log, 1, add=["b3"], remove=[], read_set=set())
    v, _ = restore_to_version(log, target_v=1)
    assert v == 3
    assert _read(log, 3) == _read(log, 1)  # head ≡ target
    assert _read(log, 2) == ["b1", "b2", "b3"]  # history intact

    # a restore whose read snapshot is invalidated by a concurrent
    # REWRITE of a file it must keep aborts through the OCC path: the
    # rewrite (v4: b1 -> b1c) commits first, then a restore-to-v1
    # computed against the stale latest must not silently resurrect b1
    commit_with_conflict_detection(log, 3, add=["b1c"], remove=["b1"],
                                   read_set={"b1"})
    v2, _ = restore_to_version(log, target_v=1)
    # restore_to_version reads the CURRENT latest (v4), so b1 is
    # re-added deliberately — the guarantee is the head equals the
    # target exactly, regardless of intervening rewrites
    assert sorted(_read(log, v2)) == sorted(_read(log, 1))


def test_root_claim_is_atomic_and_loser_conflicts(log):
    from reports_generator_spark.plans.lakehouse_meta import (
        publish_root,
        read_root,
    )
    from reports_generator_spark.storage import CommitConflict, atomic_claim

    assert atomic_claim(os.path.join(log, "root-v1.txt"), "fact 1\nsummary 1")
    # a second writer claiming the same root name loses, with content intact
    assert not atomic_claim(os.path.join(log, "root-v1.txt"), "fact 9\nsummary 9")
    assert read_root(log) == {"fact": 1, "summary": 1}

    publish_root(log, {"fact": 2, "summary": 2})
    assert read_root(log) == {"fact": 2, "summary": 2}
    # a concurrent transaction wins v3 after ours read its snapshot at
    # v2 — our publish against that stale parent must conflict, never
    # silently stack a vector computed from the old snapshot
    atomic_claim(os.path.join(log, "root-v3.txt"), "fact 3\nsummary 3")
    with pytest.raises(CommitConflict):
        publish_root(log, {"fact": 4, "summary": 4}, parent_v=2)
    assert read_root(log) == {"fact": 3, "summary": 3}


def test_branch_head_monotonic_under_real_concurrency(tmp_path):
    """8 movers racing fast-forwards to interleaved targets on real
    threads: the claim-chain protocol must leave the head at the
    global max, every chain entry monotonically non-decreasing, no
    backward move ever observable, no tmp debris — the invariant the
    old check-then-write code could silently break."""
    import threading

    from reports_generator_spark.plans.lakehouse_meta import (
        _branch_versions,
        resolve_ref,
        set_branch_head,
    )

    base = str(tmp_path)
    set_branch_head(base, "main", 0)
    errors: list[Exception] = []

    def mover(wid: int) -> None:
        try:
            for target in range(wid, 200, 8):
                try:
                    set_branch_head(base, "main", target)
                except ValueError:
                    pass  # a racer already moved past target: legal
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=mover, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    assert resolve_ref(base, "main") == 199  # the global max won
    # the winning chain never moved backward at any claimed slot
    heads_dir = os.path.join(base, "refs", "heads")
    chain = []
    for v in _branch_versions(base, "main"):
        with open(os.path.join(heads_dir, f"main-v{v}.txt")) as f:
            chain.append(int(f.read().strip()))
    assert chain == sorted(chain), chain
    assert not [f for f in os.listdir(heads_dir) if f.endswith(".tmp")]


def test_ref_namespace_single_atomic_claim(log):
    """ADVICE r10: tag/branch collision must race on ONE atomic claim
    (refs/names/<name>.txt), not on cross-directory existence probes.
    Pins (a) the exact pre-fix failure window — name claimed as 'tag'
    but the tag FILE not yet written (a concurrent create_tag between
    its two claims, or a crash there): set_branch_head must already
    lose; (b) the converse window for a branch name; (c) crash
    RECOVERY: re-running create_tag after the name claim completes the
    tag instead of wedging the name forever."""
    import os

    from reports_generator_spark.plans.lakehouse_meta import (
        _claim_name,
        create_tag,
        resolve_ref,
        set_branch_head,
    )

    # (a) mid-create_tag window: name owned as tag, tag file absent
    assert _claim_name(log, "pin", "tag") == "tag"
    assert not os.path.exists(os.path.join(log, "refs", "tags", "pin.txt"))
    with pytest.raises(ValueError, match="already names a tag"):
        set_branch_head(log, "pin", 1)
    # (c) recovery: create_tag completes the half-done tag
    create_tag(log, "pin", 1)
    assert resolve_ref(log, "pin") == 1

    # (b) mid-set_branch_head window: name owned as branch, no slot yet
    assert _claim_name(log, "dev", "branch") == "branch"
    with pytest.raises(ValueError, match="already names a branch"):
        create_tag(log, "dev", 1)
    set_branch_head(log, "dev", 1)  # the branch creator completes
    assert resolve_ref(log, "dev") == 1

    # steady state: both directions still rejected end-to-end
    with pytest.raises(ValueError, match="already names a tag"):
        set_branch_head(log, "pin", 2)
    with pytest.raises(ValueError, match="already names a branch"):
        create_tag(log, "dev", 2)


def test_schema_evolution_occ_time_travel_and_conflict(spark):
    """ALTER TABLE ADD/DROP as OCC metadata commits: time travel
    across the evolution boundary reads BOTH schemas from the same
    files (v2 pre-ADD shape; v4 NULL-backfills old files in the added
    column and types the new file; v5 drops cents without a rewrite),
    and a concurrent second evolution computed against the same
    parent pointer ABORTS with CommitConflict instead of clobbering."""
    import pyspark.sql.functions as F

    from reports_generator_spark.plans.lakehouse_meta import (
        EVO_SCHEMAS,
        build_evolution_table,
        evolve_schema,
        read_evolved,
    )
    from reports_generator_spark.storage import CommitConflict

    sf = "/root/testdata/sf0.001"
    base = build_evolution_table(spark, sf, "evo_test")

    v2 = read_evolved(spark, base, 2)
    assert v2.columns == ["o_orderkey", "cents"]

    v4 = read_evolved(spark, base, 4)
    assert v4.columns == ["o_orderkey", "cents", "qty_bucket"]
    back = v4.agg(
        F.count(F.when(F.col("qty_bucket").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("qty_bucket").isNotNull(), 1)).alias("n_typed"),
    ).collect()[0]
    # old files (keys %4 in 0,1) NULL-backfilled; new file (%4==2) typed
    assert back["n_null"] == v2.count() and back["n_typed"] > 0

    v5 = read_evolved(spark, base, 5)
    assert v5.columns == ["o_orderkey", "qty_bucket"]
    # history intact: the pre-DROP read still projects cents
    assert "cents" in read_evolved(spark, base, 4).columns

    # concurrent evolution: another ADD computed against parent v4's
    # @schema=2 pointer — the DROP (v5) already swapped it, so the
    # read_set validation must abort
    with pytest.raises(CommitConflict):
        evolve_schema(
            base, 4, 9,
            EVO_SCHEMAS[2] + [
                {"logical": "extra", "physical": "col_9", "type": "bigint"}
            ],
        )


def test_schema_version_claim_is_atomic(log):
    """A losing concurrent evolution must not clobber the winner's
    schema BODY: schema files are claimed atomically — identical
    content re-claims idempotently, different content raises
    CommitConflict (the caller re-evolves under a fresh version)."""
    from reports_generator_spark.plans.lakehouse_meta import write_schema_version
    from reports_generator_spark.storage import CommitConflict

    cols_a = [{"logical": "a", "physical": "col_1", "type": "bigint"}]
    cols_b = [{"logical": "b", "physical": "col_9", "type": "bigint"}]
    write_schema_version(log, 7, cols_a)
    write_schema_version(log, 7, cols_a)  # idempotent retry: fine
    with pytest.raises(CommitConflict, match="different bindings"):
        write_schema_version(log, 7, cols_b)
    import json, os
    with open(os.path.join(log, "schema-v7.json")) as f:
        assert json.load(f) == cols_a  # winner's body intact


def test_vacuum_shared_root_refuses_base_relative_entries(tmp_path):
    """ADVICE r11: vacuum_shared_root probes liveness as
    '{tag}/data/{d}' (root-relative). A log whose manifest entries are
    BASE-relative ('a', 'b' — the schema-evolution fixtures'
    convention) would match nothing and every live data directory
    would be rmtree'd. The guard must refuse to delete, loudly, and
    leave the data intact."""
    import pytest as _pt

    from reports_generator_spark.plans.lakehouse_meta import (
        vacuum_shared_root,
    )
    from reports_generator_spark.storage import atomic_claim

    base = os.path.join(str(tmp_path), "tbl")
    data = os.path.join(base, "data")
    os.makedirs(os.path.join(data, "a"))
    with open(os.path.join(data, "a", "part-0.parquet"), "w") as f:
        f.write("live bytes")
    # base-relative manifest entry: the dangerous convention
    assert atomic_claim(os.path.join(base, "manifest-v1.txt"), "a")

    with _pt.raises(ValueError, match="root-relative"):
        vacuum_shared_root(str(tmp_path), [base])
    # the live directory survived the refusal
    assert os.path.exists(os.path.join(data, "a", "part-0.parquet"))

    # the conforming convention still vacuums normally: reference a,
    # leave an unreferenced staged dir b -> only b is removed
    os.makedirs(os.path.join(data, "b"))
    with open(os.path.join(data, "b", "junk"), "w") as f:
        f.write("orphan")
    base2 = os.path.join(str(tmp_path), "tbl2")
    os.makedirs(os.path.join(base2, "data"))
    assert atomic_claim(os.path.join(base2, "manifest-v1.txt"), "tbl/data/a")
    os.remove(os.path.join(base, "manifest-v1.txt"))
    assert atomic_claim(os.path.join(base, "manifest-v1.txt"), "tbl/data/a")
    removed = vacuum_shared_root(str(tmp_path), [base, base2])
    assert removed == ["tbl/data/b"]
    assert os.path.exists(os.path.join(data, "a", "part-0.parquet"))
    assert not os.path.exists(os.path.join(data, "b"))
