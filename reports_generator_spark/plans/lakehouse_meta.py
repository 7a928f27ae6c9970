"""Lakehouse METADATA scaling + transactional MERGE (round 10).

The round-7..9 manifest-log family made the write path transactional
(atomic commit, OCC conflict detection, MOR deletes, CDC, WAP). What
is still unbounded at 100 TB is the METADATA itself:

- ``expire_snapshots_retention`` — the log grows one manifest per
  commit forever, and every data file referenced by ANY version must
  be retained for time travel. Snapshot expiry bounds both: versions
  older than the retention horizon are dropped and the data files only
  they referenced become vacuumable (Iceberg ``expireSnapshots`` /
  Delta ``VACUUM`` + log retention).
- ``manifest_checkpoint_compaction`` — a reader of the full-file-list
  log does one listing of O(versions) names; a DELTA-encoded log
  (add/remove per commit, the Delta Lake JSON-commit design) makes
  each commit O(changed files) to write but O(versions) to replay.
  Periodic CHECKPOINTS (full state every K commits) + a
  ``_last_checkpoint`` pointer bound every read to 1 + (commits since
  last checkpoint) ≤ 1 + K metadata files — O(1) in table history.
- ``merge_mor_transactional`` — MERGE INTO as ONE atomic commit
  carrying a deletion vector for the matched keys plus an append file
  with the new row versions (composing delete_merge_on_read_dv's DV
  read path with commit_with_conflict_detection's OCC publish): the
  upsert is all-or-nothing, costs zero data-file rewrites, and a
  concurrent reader sees either the whole MERGE or none of it.

Reference contrast: Proof.scala:147-151 overwrites whole outputs; no
log, no retention, no upsert exists there — this family is the part
of the engine the reference's design could never reach.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..functions.diff import one_sided_diff_count, symmetric_diff_count
from .registry import query
from ..storage import (
    CommitConflict,
    atomic_claim,
    commit_with_conflict_detection,
    expire_snapshots,
    fixture_base,
    log_claim,
    log_create,
    log_read,
    log_versions,
    mark_built,
    needs_build,
    read_version,
    write_atomic,
)
from .scale_joins import cdc_row_diff


# --------------------------------------------------------------------------
# Snapshot expiry on the full-file-list manifest log
# (storage.expire_snapshots)
# --------------------------------------------------------------------------
@query(
    "expire_snapshots_retention",
    oracle="""
    SELECT count(*) AS n_rows_latest,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_latest,
           count(*) FILTER (WHERE o_orderkey % 4 IN (0, 1, 2)) AS n_rows_prev,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 4 IN (0, 1, 2))
                AS BIGINT) AS checksum_prev,
           CAST(1 AS BIGINT) AS snapshot_identical_after_expiry,
           CAST(1 AS BIGINT) AS time_travel_expired_fails,
           CAST(3 AS BIGINT) AS n_snapshots_expired,
           CAST(1 AS BIGINT) AS n_files_vacuumed
    FROM orders
    """,
)
def expire_snapshots_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry with a retention horizon. A 5-version history
    (append, append, compaction-rewrite, append, append — deterministic
    o_orderkey%4 slices) is expired down to keep_last_n=2 and the
    audit proves the three retention guarantees:

    - the LIVE snapshots are bit-identical before/after expiry (the
      latest AND the previous version's count+checksum are recomputed
      by the oracle from raw orders — plus an in-code before/after
      equality flag);
    - time travel to an expired version now fails CLEANLY
      (FileNotFoundError, not a silent partial read);
    - exactly the data files referenced ONLY by expired versions
      become vacuumable and are removed (here: the pre-compaction
      ``b0`` — the compacted ``b0c`` survives because live versions
      still reference it), and the post-vacuum latest snapshot still
      reads whole.

    n_snapshots_expired / n_files_vacuumed / the two flags are
    protocol facts (documented filesystem-count exemption class); the
    four count/checksum columns are the REAL cross-engine relation.
    """
    base = fixture_base(spark, sf_dir, "expire")
    # the expiry run IS the operator — rebuild the log every invocation
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    for name, residue in (("b0", 0), ("b1", 1), ("b2", 2), ("b3", 3)):
        o.filter(k % 4 == residue).write.parquet(os.path.join(data, name))
    o.filter(k % 4 == 0).coalesce(1).write.parquet(os.path.join(data, "b0c"))

    log_create(base, ["b0"])
    commit_with_conflict_detection(base, 1, add=["b1"], remove=[], read_set=set())
    commit_with_conflict_detection(  # compaction: b0 -> b0c
        base, 2, add=["b0c"], remove=["b0"], read_set={"b0"}
    )
    commit_with_conflict_detection(base, 3, add=["b2"], remove=[], read_set=set())
    commit_with_conflict_detection(base, 4, add=["b3"], remove=[], read_set=set())

    def agg2(v: int) -> tuple[int, int]:
        r = read_version(spark, base, v).agg(
            F.count(F.lit(1)), F.sum("o_orderkey").cast("bigint")
        ).first()
        return r[0], r[1]

    before_latest, before_prev = agg2(5), agg2(4)

    expired, unreferenced = expire_snapshots(base, keep_last_n=2)
    # vacuum: data files referenced ONLY by expired versions — removed
    # AFTER the manifests, so no live manifest ever dangles
    for b in unreferenced:
        shutil.rmtree(os.path.join(data, b))

    # time travel to an expired version must fail cleanly
    try:
        log_read(base, expired[0])
        travel_fails = 0
    except FileNotFoundError:
        travel_fails = 1

    after_latest, after_prev = agg2(5), agg2(4)
    identical = int(
        before_latest == after_latest and before_prev == after_prev
    )

    return spark.range(1).select(
        F.lit(after_latest[0]).cast("bigint").alias("n_rows_latest"),
        F.lit(after_latest[1]).cast("bigint").alias("checksum_latest"),
        F.lit(after_prev[0]).cast("bigint").alias("n_rows_prev"),
        F.lit(after_prev[1]).cast("bigint").alias("checksum_prev"),
        F.lit(identical).cast("bigint").alias("snapshot_identical_after_expiry"),
        F.lit(travel_fails).cast("bigint").alias("time_travel_expired_fails"),
        F.lit(len(expired)).cast("bigint").alias("n_snapshots_expired"),
        F.lit(len(unreferenced)).cast("bigint").alias("n_files_vacuumed"),
    )


# --------------------------------------------------------------------------
# Delta-encoded commit log with periodic checkpoints (Delta Lake's
# _delta_log design): O(changed files) per commit, O(1) metadata reads.
# --------------------------------------------------------------------------
_CKPT_EVERY = 8


def delta_commit(
    base: str, parent_v: int, add: list[str], remove: list[str]
) -> int:
    """Append one DELTA commit (``A name`` / ``R name`` lines) as
    version parent+1; every ``_CKPT_EVERY``-th version also writes a
    full-state CHECKPOINT file and swings the ``_last_checkpoint``
    pointer. ALL three writes are atomic (tmp + rename) — a torn delta
    file would otherwise fold into a corrupt snapshot with no error.
    The checkpoint folds from the PREVIOUS checkpoint (1 + ≤K metadata
    reads), not from version 1 — otherwise checkpoint creation itself
    would be O(history) and the write path would accumulate the very
    O(v²/K) cost this module exists to eliminate. Single-writer
    helper: multi-writer arbitration is
    commit_with_conflict_detection's job and composes by claiming the
    delta file name the same way."""
    v = parent_v + 1
    write_atomic(
        os.path.join(base, f"delta-v{v}.txt"),
        "\n".join([f"R {b}" for b in remove] + [f"A {b}" for b in add]),
    )
    if v % _CKPT_EVERY == 0:
        files, _ = read_snapshot_checkpointed(base)  # prev ckpt + ≤K deltas
        write_atomic(
            os.path.join(base, f"checkpoint-v{v}.txt"),
            "\n".join(sorted(files)),
        )
        write_atomic(os.path.join(base, "_last_checkpoint"), str(v))
    return v


def replay_deltas(
    base: str, upto: int | None = None, start_files: set[str] | None = None,
    start_v: int = 0,
) -> tuple[set[str], int]:
    """Fold delta files start_v+1..upto (or until the first gap) over
    ``start_files``; returns (file_set, n_manifest_files_read)."""
    files = set(start_files or ())
    reads = 0
    v = start_v + 1
    while upto is None or v <= upto:
        p = os.path.join(base, f"delta-v{v}.txt")
        if not os.path.exists(p):
            break
        with open(p) as f:
            for line in f.read().splitlines():
                op, name = line.split(" ", 1)
                files.discard(name) if op == "R" else files.add(name)
        reads += 1
        v += 1
    return files, reads


def read_snapshot_checkpointed(base: str) -> tuple[set[str], int]:
    """Resolve the CURRENT file set via the checkpoint path: one
    pointer read, one checkpoint read, then only the deltas SINCE the
    checkpoint — ≤ 1 + _CKPT_EVERY metadata files no matter how long
    the table's history is (the naive path replays every commit).
    Returns (file_set, n_manifest_files_read) where the count covers
    checkpoint + deltas (the fixed-size pointer is not counted)."""
    ckpt_v = 0
    files: set[str] = set()
    reads = 0
    ptr = os.path.join(base, "_last_checkpoint")
    if os.path.exists(ptr):
        with open(ptr) as f:
            ckpt_v = int(f.read().strip())
        with open(os.path.join(base, f"checkpoint-v{ckpt_v}.txt")) as f:
            files = set(f.read().split())
        reads = 1
    tail_files, tail_reads = replay_deltas(
        base, start_files=files, start_v=ckpt_v
    )
    return tail_files, reads + tail_reads


@query(
    "manifest_checkpoint_compaction",
    oracle="""
    SELECT count(*) AS n_rows_final,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_final,
           CAST(26 AS BIGINT) AS n_commits,
           CAST(3 AS BIGINT) AS n_checkpoints,
           CAST(3 AS BIGINT) AS n_manifest_reads_checkpointed,
           CAST(26 AS BIGINT) AS n_manifest_reads_naive
    FROM orders
    """,
)
def manifest_checkpoint_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoded commit log + periodic checkpoint — metadata reads
    become O(1) in table history. 26 commits build the table (24
    appends of the o_orderkey%24 slices, then two compactions that
    each fold two slices into one file — exercising R entries);
    checkpoints land at v8/v16/v24. Resolving the latest snapshot via
    ``_last_checkpoint`` costs exactly 3 metadata files (checkpoint-v24
    + delta-v25 + delta-v26) where the naive replay costs 26 — and the
    in-code assert proves both paths resolve the IDENTICAL file set.
    The final table is value-attested cross-engine: the two
    compactions are pure rewrites, so the snapshot must equal raw
    orders exactly (count + checksum). At 100 TB with thousands of
    commits/day this is the difference between a planner that opens 3
    metadata files and one that opens 100k (Delta Lake's _delta_log
    checkpoint design)."""
    base = fixture_base(spark, sf_dir, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    # ONE partitioned write materializes all 24 slice dirs (b=0..b=23)
    # instead of 24 filter-and-rescan jobs — the commits themselves are
    # the thing under test, not the fixture; this took the key from
    # 5.2 s to ~1 s at sf0.1 with byte-identical log semantics
    o.withColumn("b", k % 24).repartition("b").write.partitionBy("b").parquet(
        os.path.join(data, "slices")
    )
    o.filter(k % 24 < 4).withColumn(
        "c", F.when(k % 24 < 2, "c01").otherwise("c23")
    ).repartition("c").write.partitionBy("c").parquet(os.path.join(data, "compact"))

    def slice_name(i: int) -> str:
        return f"slices/b={i}"

    v = 0
    for i in range(24):
        v = delta_commit(base, v, add=[slice_name(i)], remove=[])
    v = delta_commit(
        base, v, add=["compact/c=c01"], remove=[slice_name(0), slice_name(1)]
    )
    v = delta_commit(
        base, v, add=["compact/c=c23"], remove=[slice_name(2), slice_name(3)]
    )

    files_ckpt, reads_ckpt = read_snapshot_checkpointed(base)
    files_naive, reads_naive = replay_deltas(base)
    assert files_ckpt == files_naive, (
        "checkpoint path and full replay must resolve the same snapshot"
    )
    n_ckpts = len(
        [f for f in os.listdir(base) if f.startswith("checkpoint-v")]
    )

    final = spark.read.parquet(
        *[os.path.join(data, b) for b in sorted(files_ckpt)]
    )
    return final.agg(
        F.count(F.lit(1)).alias("n_rows_final"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_final"),
        F.lit(v).cast("bigint").alias("n_commits"),
        F.lit(n_ckpts).cast("bigint").alias("n_checkpoints"),
        F.lit(reads_ckpt).cast("bigint").alias("n_manifest_reads_checkpointed"),
        F.lit(reads_naive).cast("bigint").alias("n_manifest_reads_naive"),
    )


# --------------------------------------------------------------------------
# Transactional MERGE (MOR upsert): one OCC commit = DV + append file
# --------------------------------------------------------------------------
def read_mor_snapshot(
    spark: SparkSession, base: str, data: str, v: int
) -> DataFrame:
    """Read a manifest version whose entries may interleave data files
    and ``dv:`` deletion-vector entries. Order is semantic: a DV
    suppresses keys only in the files listed BEFORE it (the files that
    existed when its commit landed) — rows the SAME commit appended
    after the DV carry the new versions of those keys and must
    survive. Each DV is applied as a broadcast anti-join at its
    position in the fold."""
    rel: DataFrame | None = None
    for entry in log_read(base, v):
        if entry.startswith("dv:"):
            dv = spark.read.parquet(os.path.join(data, entry[3:]))
            if rel is not None:
                rel = rel.join(F.broadcast(dv), "o_orderkey", "left_anti")
        else:
            part = spark.read.parquet(os.path.join(data, entry))
            rel = part if rel is None else rel.unionByName(part)
    assert rel is not None, "empty manifest"
    return rel


@query(
    "merge_mor_transactional",
    oracle="""
    WITH t AS (SELECT o_orderkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    upd AS (SELECT o_orderkey, cents + 1111 AS cents FROM t
            WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0),
    ins AS (SELECT o_orderkey, cents FROM t
            WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0),
    post AS (
      SELECT o_orderkey, cents FROM t
      WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    )
    SELECT (SELECT count(*) FROM post) AS n_rows_after,
           (SELECT CAST(sum(cents) AS BIGINT) FROM post)
             AS cents_checksum_after,
           (SELECT count(*) FROM upd) AS n_cdc_updates,
           (SELECT count(*) FROM ins) AS n_cdc_inserts,
           CAST(0 AS BIGINT) AS n_cdc_deletes,
           CAST(2 AS BIGINT) AS final_version,
           CAST(0 AS BIGINT) AS n_data_files_rewritten
    """,
)
def merge_mor_transactional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as ONE atomic merge-on-read commit. Target v1 holds
    the even keys; the source batch updates every key%6==0 row
    (cents+1111) and inserts the odd key%3==0 keys. The merge writes
    exactly TWO objects — a deletion vector naming the matched target
    keys and an append file carrying all source rows — and publishes
    them in a single optimistic commit (``["dv:…", "app"]``; the DV
    precedes the append in the manifest, so it suppresses only the
    OLD versions). Guarantees attested:

    - atomicity: final_version=2 — one commit, and a concurrent reader
      of v1 or v2 sees a complete snapshot either way;
    - zero data files rewritten (mtime listing asserted unchanged
      in-code — the MOR economics at 100 TB: an upsert touching 0.1%
      of keys costs O(batch), not O(table));
    - the post-merge relation is recomputed by the oracle from
      deterministic key slices (count + cents checksum);
    - row-level CDC between v1 and v2 (through the PRODUCTION
      cdc_row_diff helper) yields exactly the expected
      update/insert/delete counts — also oracle-recomputed.
    """
    base = fixture_base(spark, sf_dir, "mrg")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    k = F.col("o_orderkey")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    t.filter(k % 2 == 0).write.parquet(os.path.join(data, "b-even"))
    log_create(base, ["b-even"])

    def data_files() -> dict[str, float]:
        out: dict[str, float] = {}
        for root, _d, files in os.walk(os.path.join(data, "b-even")):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = data_files()

    # the source batch: updates for matched keys, inserts for new keys
    source = t.filter(k % 2 == 0).filter(k % 3 == 0).withColumn(
        "cents", F.col("cents") + 1111
    ).unionByName(t.filter(k % 2 == 1).filter(k % 3 == 0))

    # MERGE = two staged objects + ONE commit
    target = read_mor_snapshot(spark, base, data, 1)
    matched = target.join(
        source.select("o_orderkey"), "o_orderkey", "left_semi"
    ).select("o_orderkey")
    matched.coalesce(1).write.parquet(os.path.join(data, "dv-m1"))
    source.write.parquet(os.path.join(data, "app-m1"))
    final_v, _ = commit_with_conflict_detection(
        base, 1, add=["dv:dv-m1", "app-m1"], remove=[], read_set={"b-even"}
    )

    after = data_files()
    assert after == before, "MOR merge must not rewrite any data file"
    n_rewritten = sum(
        1 for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    )

    pre = read_mor_snapshot(spark, base, data, 1).select(
        "o_orderkey", F.col("cents").alias("pre_cents")
    )
    post = read_mor_snapshot(spark, base, data, final_v).select(
        "o_orderkey", F.col("cents").alias("post_cents")
    )
    cdc = cdc_row_diff(pre, post).groupBy().agg(
        F.count(F.when(F.col("change_type") == "update", 1)).alias("n_upd"),
        F.count(F.when(F.col("change_type") == "insert", 1)).alias("n_ins"),
        F.count(F.when(F.col("change_type") == "delete", 1)).alias("n_del"),
    )

    final = read_mor_snapshot(spark, base, data, final_v).agg(
        F.count(F.lit(1)).alias("n_rows_after"),
        F.sum("cents").cast("bigint").alias("cents_checksum_after"),
    )
    # two 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    return final.crossJoin(cdc).select(
        "n_rows_after",
        "cents_checksum_after",
        F.col("n_upd").cast("bigint").alias("n_cdc_updates"),
        F.col("n_ins").cast("bigint").alias("n_cdc_inserts"),
        F.col("n_del").cast("bigint").alias("n_cdc_deletes"),
        F.lit(final_v).cast("bigint").alias("final_version"),
        F.lit(n_rewritten).cast("bigint").alias("n_data_files_rewritten"),
    )


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance from CDC deltas
# --------------------------------------------------------------------------
@query(
    "mv_incremental_maintenance",
    oracle="""
    WITH t AS (SELECT o_orderkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    v2 AS (
      SELECT o_orderkey, cents FROM t
      WHERE (o_orderkey % 7) NOT IN (1, 3) AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, cents + 100 FROM t WHERE o_orderkey % 7 = 1
      UNION ALL
      SELECT o_orderkey, cents FROM t
      WHERE o_orderkey % 5 = 0 AND (o_orderkey % 7) NOT IN (1, 3)
    )
    SELECT o_orderkey % 10 AS grp,
           count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v2 GROUP BY 1
    """,
)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate MATERIALIZED VIEW from
    row-level CDC — the composition the CDC machinery exists for. The
    MV (count + cents sum per o_orderkey%10 group) is computed once
    against snapshot v1; the v1→v2 transition (the shared CDC fixture:
    deletes k%7==3, updates k%7==1 → cents+100, inserts k%5==0) is
    then applied as a DELTA AGGREGATE derived from the production
    ``cdc_row_diff`` over ONLY the files the manifest diff marks
    changed — the maintenance pass never rescans the unchanged base
    (f-keep stays cold, inputFiles-asserted in tests). Merge rule for
    additive aggregates: n += (+1 insert, −1 delete, 0 update),
    sum += post − pre.

    The returned relation is the incrementally-maintained MV at v2,
    value-attested cross-engine against a DuckDB FULL recompute of the
    v2 aggregate — plus an in-code equality assert against Spark's own
    full recompute. At 100 TB this is the difference between MV
    refresh costing O(changed rows) and O(table) — the Delta Live
    Tables / Materialize maintenance model on this engine's log."""
    from .scale_joins import _ensure_cdc_table

    base = _ensure_cdc_table(spark, sf_dir)
    data = os.path.join(base, "data")
    v1_files = set(log_read(base, 1))
    v2_files = set(log_read(base, 2))
    grp = (F.col("o_orderkey") % 10).alias("grp")

    def snap(files: set[str]) -> DataFrame:
        return spark.read.parquet(*[os.path.join(data, b) for b in sorted(files)])

    # the stored MV artifact: materialized (localCheckpoint) exactly as a
    # production MV would be a table on disk — the maintenance pass below
    # therefore reads ONLY the MV + the changed files, never the base
    # (tests assert f-keep is absent from the result's inputFiles)
    mv1 = snap(v1_files).groupBy(grp).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).localCheckpoint()

    # CDC over CHANGED files only (manifest diff — the base stays cold)
    pre = snap(v1_files - v2_files).select(
        "o_orderkey", F.col("cents").alias("pre_cents")
    )
    post = snap(v2_files - v1_files).select(
        "o_orderkey", F.col("cents").alias("post_cents")
    )
    delta = cdc_row_diff(pre, post).groupBy(grp).agg(
        F.sum(
            F.when(F.col("change_type") == "insert", 1)
            .when(F.col("change_type") == "delete", -1)
            .otherwise(0)
        ).alias("dn"),
        F.sum(
            F.coalesce("post_cents", F.lit(0)) - F.coalesce("pre_cents", F.lit(0))
        ).alias("dsum"),
    )

    merged = (
        mv1.join(delta, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint").alias("n_rows"),
            (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("dsum", F.lit(0)))
            .cast("bigint").alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
    )

    # audit (test-scale only — the production path is `merged` alone):
    # the incrementally-maintained MV must equal a full v2 recompute
    full = snap(v2_files).groupBy(grp).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    n_diff = symmetric_diff_count(merged, full)
    assert n_diff == 0, "incremental MV diverged from full recompute"
    return merged


# --------------------------------------------------------------------------
# Hidden partitioning (Iceberg partition transforms): the query filters
# RAW columns; the scan derives partition predicates from the transforms.
# --------------------------------------------------------------------------
_HP_BUCKETS = 8


def _ensure_hidden_part_table(spark: SparkSession, sf_dir: str) -> str:
    """Orders laid out by two PARTITION TRANSFORMS of raw columns —
    year(o_orderdate) (a truncate transform) × o_orderkey%8 (a bucket
    transform) — the Iceberg hidden-partitioning design: the user
    never sees p_year/p_bucket; scan planning derives them. Built once
    per session (readiness marker LAST)."""
    base = fixture_base(spark, sf_dir, "hp")
    if not needs_build(base):
        return base
    data = os.path.join(base, "data")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    o.withColumn("p_year", F.year("o_orderdate")).withColumn(
        "p_bucket", (F.col("o_orderkey") % _HP_BUCKETS).cast("int")
    ).write.partitionBy("p_year", "p_bucket").parquet(data)
    mark_built(base)
    return base


#: the query's RAW predicate: a key IN-list (all ≡ 0 mod 8, so the
#: derived bucket set is {0}) and a two-year date range
_HP_KEYS = [8 * i for i in range(1, 60)]
_HP_Y0, _HP_Y1 = 1996, 1997


@query(
    "scan_hidden_partitioning_transforms",
    oracle=f"""
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_orderkey IN ({", ".join(map(str, _HP_KEYS))})
      AND o_orderdate >= TIMESTAMP '{_HP_Y0}-01-01'
      AND o_orderdate < TIMESTAMP '{_HP_Y1 + 1}-01-01'
    """,
)
def scan_hidden_partitioning_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning (Iceberg partition transforms): the table
    is laid out by year(o_orderdate) × bucket(8, o_orderkey), but the
    QUERY references only the raw columns — the scan derives the
    partition predicates from the transforms (years from the range
    endpoints, buckets from the IN-list's residues: here every key is
    ≡0 mod 8, so ONE bucket of 8 survives) and applies the raw
    predicate as the residual. 2 years × 1 bucket = 2 of ~56
    partitions scanned (inputFiles-asserted in tests) — the layout
    prunes without the user ever naming a partition column, which is
    the whole point of hiding transforms in table metadata: queries
    can't forget to use them, and layout can evolve without rewriting
    queries. Result is the full surviving ROW relation (not an
    aggregate), value-attested cross-engine."""
    base = _ensure_hidden_part_table(spark, sf_dir)
    data = os.path.join(base, "data")

    # scan planning: derive partition predicates from the transforms
    years = list(range(_HP_Y0, _HP_Y1 + 1))
    buckets = sorted({k % _HP_BUCKETS for k in _HP_KEYS})

    return (
        spark.read.parquet(data)
        .filter(F.col("p_year").isin(years) & F.col("p_bucket").isin(buckets))
        .filter(
            F.col("o_orderkey").isin(_HP_KEYS)
            & (F.col("o_orderdate") >= F.lit(f"{_HP_Y0}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{_HP_Y1 + 1}-01-01").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            "cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


# --------------------------------------------------------------------------
# Positional BITMAP deletion vectors (the Delta/Iceberg DV design):
# (file, row-position) bitmaps, not key sets.
# --------------------------------------------------------------------------
@query(
    "delete_mor_dv_positional_bitmap",
    oracle=f"""
    WITH s AS (SELECT max(o_orderkey) AS mx FROM orders),
    t AS (
      SELECT o_orderkey,
             (o_orderkey <= CAST(floor((mx + 1) / 4) AS BIGINT)
              AND o_orderkey % 5 = 2) AS hit
      FROM orders, s
    )
    SELECT count(*) AS rows_before,
           CAST(sum(CAST(hit AS BIGINT)) AS BIGINT) AS rows_deleted,
           CAST(count(*) - sum(CAST(hit AS BIGINT)) AS BIGINT) AS rows_after,
           CAST(sum(o_orderkey) FILTER (WHERE NOT hit) AS BIGINT)
             AS survivor_checksum,
           CAST(0 AS BIGINT) AS n_data_files_rewritten
    FROM t
    """,
)
def delete_mor_dv_positional_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with a POSITIONAL BITMAP deletion vector —
    the actual Delta/Iceberg DV representation ((file, row-position)
    bitmaps), where ``delete_merge_on_read_dv`` used a key set. The
    same predicate against the same 8-dir layout and the SAME ORACLE
    TEXT as the key-set MOR and the COW delete, so a green row proves
    all three delete representations resolve to one relation.

    Write path: one scan with the parquet reader's
    ``_metadata.file_path`` / ``_metadata.row_index`` columns locates
    hit positions; bits pack into 64-row words
    (``bit_or(1L << row_index % 64)`` grouped by (file, word)) — the
    sidecar holds ONE LONG PER 64 ROWS per touched word, independent
    of key width, and row positions tolerate duplicate or absent keys
    (the case key-set DVs cannot express). Zero data files rewritten
    (mtime-asserted).

    Read path: scan + broadcast LEFT join on (file, row_index div 64)
    + a bit test — survivors are rows whose word is NULL or whose bit
    is 0. All JVM-side integer ops inside codegen; the DV stays
    KB-scale under broadcast. At 100 TB: deletes cost O(deleted/64)
    longs and reads add one broadcast probe per row — this is why
    every production lakehouse moved from key-set to positional DVs.
    """
    from .scale_joins import _mor_hit, _mor_lake_fixture

    _base, data, dv_dir, _mx, thr = _mor_lake_fixture(spark, sf_dir, "morb")

    def data_files() -> dict[str, float]:
        out: dict[str, float] = {}
        for root, _dirs, files in os.walk(data):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = data_files()
    src = spark.read.parquet(data).select(
        "o_orderkey",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    )
    rows_before = src.count()

    # the DELETE: pack hit positions into per-(file, word) bitmaps
    src.filter(_mor_hit(thr)).groupBy(
        "fp", F.expr("ri div 64").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(ri % 64 AS INT)))")
        .alias("word")
    ).coalesce(1).write.mode("overwrite").parquet(dv_dir)

    after = data_files()
    assert after == before, "positional-DV delete must not rewrite data"
    n_rewritten = sum(
        1 for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    )

    # the MOR read path: broadcast the bitmap, test the row's bit
    dv = spark.read.parquet(dv_dir)
    lake = spark.read.parquet(data).select(
        "o_orderkey",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    ).withColumn("word_idx", F.expr("ri div 64"))
    merged = lake.join(F.broadcast(dv), ["fp", "word_idx"], "left").filter(
        F.expr(
            "word IS NULL OR (shiftright(word, CAST(ri % 64 AS INT)) & 1) = 0"
        )
    )
    return merged.agg(
        F.lit(rows_before).cast("bigint").alias("rows_before"),
        (F.lit(rows_before).cast("bigint") - F.count(F.lit(1))).alias(
            "rows_deleted"
        ),
        F.count(F.lit(1)).alias("rows_after"),
        F.sum("o_orderkey").cast("bigint").alias("survivor_checksum"),
        F.lit(n_rewritten).cast("bigint").alias("n_data_files_rewritten"),
    )


# --------------------------------------------------------------------------
# Column mapping (Delta column-mapping design): logical renames are
# METADATA-ONLY — physical parquet column names never change.
# --------------------------------------------------------------------------
def _ensure_colmap_table(spark: SparkSession, sf_dir: str) -> str:
    """A table whose parquet files carry PHYSICAL column names
    (col_1, col_2) plus two mapping versions: v1 binds logical
    {o_orderkey→col_1, cents→col_2}; v2 is the RENAME cents →
    amount_cents — only the mapping file changes, never the data."""
    import json
    base = fixture_base(spark, sf_dir, "cm")
    if not needs_build(base):
        return base
    os.makedirs(base)
    o = load_table(spark, sf_dir, "orders")
    o.select(
        F.col("o_orderkey").alias("col_1"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("col_2"),
    ).write.parquet(os.path.join(base, "data"))
    for v, mapping in (
        (1, {"o_orderkey": "col_1", "cents": "col_2"}),
        (2, {"o_orderkey": "col_1", "amount_cents": "col_2"}),
    ):
        write_atomic(os.path.join(base, f"mapping-v{v}.json"), json.dumps(mapping))
    mark_built(base)
    return base


def read_with_column_mapping(
    spark: SparkSession, base: str, v: int
) -> DataFrame:
    """Resolve LOGICAL column names through mapping version v — the
    reader never sees physical names, so a rename is a one-file
    metadata commit and historical files need no rewrite (the Delta
    column-mapping contract). Unknown logical names fail cleanly at
    resolution (KeyError), not as a silent wrong-column read."""
    import json

    with open(os.path.join(base, f"mapping-v{v}.json")) as f:
        mapping = json.load(f)
    df = spark.read.parquet(os.path.join(base, "data"))
    return df.select(
        *[F.col(phys).alias(logical) for logical, phys in mapping.items()]
    )


@query(
    "scan_column_mapping_rename",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS amount_cents
    FROM orders
    """,
)
def scan_column_mapping_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping: rename a LOGICAL column (cents → amount_cents)
    without touching a single data file — the parquet files carry
    stable physical names (col_1, col_2) and each mapping version
    binds logical→physical. The returned relation reads through
    mapping v2 (post-rename) and is value-attested as the FULL row
    relation under the NEW name; data-file mtimes are asserted
    unchanged across the rename in tests, and reading a dropped
    logical name fails cleanly. At 100 TB a rename is a one-file
    metadata commit instead of a table rewrite — and because physical
    names never change, files written before the rename keep working
    (the Delta column-mapping design; Iceberg does the same with
    field IDs)."""
    base = _ensure_colmap_table(spark, sf_dir)
    return read_with_column_mapping(spark, base, 2)


# --------------------------------------------------------------------------
# Schema evolution (ADD/DROP COLUMN) as ONE metadata commit on the OCC log
# --------------------------------------------------------------------------
def write_schema_version(base: str, v: int, columns: list[dict]) -> None:
    """Publish schema version v: an ordered list of
    ``{"logical", "physical", "type"}`` bindings (the column-mapping
    contract, now carried per schema version). CLAIMED atomically and
    immutable once written: a plain overwrite would let a LOSING
    concurrent evolution clobber the winner's schema body after the
    winner's pointer commit — the pointer would then resolve to the
    wrong bindings (the same check-then-write class as the r10 refs
    fix). A claim loss with identical content is an idempotent retry
    and succeeds; different content raises CommitConflict so the
    caller re-evolves under a fresh version number."""
    import json

    body = json.dumps(columns)
    path = os.path.join(base, f"schema-v{v}.json")
    if not atomic_claim(path, body):
        with open(path) as f:
            existing = f.read()
        if existing != body:
            raise CommitConflict(
                f"schema-v{v} already claimed with different bindings — "
                "re-read the table and evolve under a new schema version"
            )


def _schema_pointer(lines: list[str]) -> int:
    marks = [ln for ln in lines if ln.startswith("@schema=")]
    if len(marks) != 1:
        raise ValueError(f"manifest must carry exactly one @schema marker, got {marks}")
    return int(marks[0].split("=", 1)[1])


def evolve_schema(
    base: str, parent_v: int, new_schema_v: int, columns: list[dict]
) -> tuple[int, int]:
    """ADD/DROP COLUMN as ONE metadata-only OCC commit: publish the
    new schema file, then swap the manifest's ``@schema=`` pointer
    through commit_with_conflict_detection with the OLD pointer in the
    read_set — so a concurrent schema change (or anything that
    invalidated the pointer this evolution was computed against)
    ABORTS with CommitConflict instead of silently clobbering (two
    concurrent ADDs would otherwise both 'win' and one binding would
    vanish). Data files are never touched — the Delta/Iceberg ALTER
    TABLE economics: at 100 TB, ADD or DROP COLUMN is a one-file
    metadata commit, not a table rewrite."""
    old_ptr = _schema_pointer(log_read(base, parent_v))
    write_schema_version(base, new_schema_v, columns)
    return commit_with_conflict_detection(
        base,
        parent_v,
        add=[f"@schema={new_schema_v}"],
        remove=[f"@schema={old_ptr}"],
        read_set={f"@schema={old_ptr}"},
    )


def read_evolved(spark: SparkSession, base: str, v: int) -> DataFrame:
    """Read manifest version v THROUGH its schema version: data files
    are resolved by PHYSICAL name (mergeSchema unions the file
    footers), then projected to the logical bindings — a physical
    column absent from every live file (or added after a file was
    written) NULL-backfills with the declared type, and a DROPPED
    logical name simply stops being projected even though old files
    still carry its physical bytes. Time travel composes for free:
    each manifest version pins the schema version that was current
    when it committed, so reading v_pre yields the pre-evolution
    shape and v_post the post-evolution shape from the SAME files."""
    import json

    lines = log_read(base, v)
    with open(os.path.join(base, f"schema-v{_schema_pointer(lines)}.json")) as f:
        columns = json.load(f)
    files = [
        os.path.join(base, "data", ln) for ln in lines if not ln.startswith("@")
    ]
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    return df.select(
        *[
            (
                F.col(c["physical"]).cast(c["type"])
                if c["physical"] in df.columns
                else F.lit(None).cast(c["type"])
            ).alias(c["logical"])
            for c in columns
        ]
    )


#: the three schema eras of the evolution fixture (module-level: tests
#: replay the same trajectory)
EVO_SCHEMAS: dict[int, list[dict]] = {
    1: [
        {"logical": "o_orderkey", "physical": "col_1", "type": "bigint"},
        {"logical": "cents", "physical": "col_2", "type": "bigint"},
    ],
    # ADD COLUMN qty_bucket (new physical col_3; old files NULL-backfill)
    2: [
        {"logical": "o_orderkey", "physical": "col_1", "type": "bigint"},
        {"logical": "cents", "physical": "col_2", "type": "bigint"},
        {"logical": "qty_bucket", "physical": "col_3", "type": "bigint"},
    ],
    # DROP COLUMN cents (metadata-only; col_2 bytes stay in old files)
    3: [
        {"logical": "o_orderkey", "physical": "col_1", "type": "bigint"},
        {"logical": "qty_bucket", "physical": "col_3", "type": "bigint"},
    ],
}


def build_evolution_table(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """v1: file A (keys %4==0, schema 1) — v2: +file B (keys %4==1,
    data commit) — v3: ADD qty_bucket (metadata-only) — v4: +file C
    (keys %4==2, written WITH col_3) — v5: DROP cents (metadata-only).
    Returns the log base; data-file immutability across the two
    evolution commits is asserted in-code."""
    base = fixture_base(spark, sf_dir, tag)
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    k = F.col("o_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("col_1"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("col_2"),
        (F.col("o_custkey") % 10).cast("bigint").alias("col_3"),
        k,
    )
    o.filter(k % 4 == 0).select("col_1", "col_2").write.parquet(
        os.path.join(data, "a")
    )
    write_schema_version(base, 1, EVO_SCHEMAS[1])
    log_create(base, ["a", "@schema=1"])

    o.filter(k % 4 == 1).select("col_1", "col_2").write.parquet(
        os.path.join(data, "b")
    )
    commit_with_conflict_detection(base, 1, add=["b"], remove=[], read_set=set())

    def mtimes() -> dict[str, float]:
        out: dict[str, float] = {}
        for root, _d, files in os.walk(data):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    evolve_schema(base, 2, 2, EVO_SCHEMAS[2])  # v3: ADD qty_bucket
    o.filter(k % 4 == 2).select("col_1", "col_2", "col_3").write.parquet(
        os.path.join(data, "c")
    )
    commit_with_conflict_detection(base, 3, add=["c"], remove=[], read_set=set())
    mid = {p: t for p, t in mtimes().items() if p in before}
    evolve_schema(base, 4, 3, EVO_SCHEMAS[3])  # v5: DROP cents
    after = {p: t for p, t in mtimes().items() if p in before}
    assert before == mid == after, (
        "schema evolution must be metadata-only — no pre-existing data "
        "file may be rewritten"
    )
    return base


@query(
    "schema_evolution_occ_commit",
    oracle="""
    SELECT o_orderkey, CAST(NULL AS BIGINT) AS qty_bucket
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT o_orderkey, CAST(o_custkey % 10 AS BIGINT) AS qty_bucket
    FROM orders WHERE o_orderkey % 4 = 2
    """,
)
def schema_evolution_occ_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD/DROP COLUMN as single OCC metadata commits
    (VERDICT r10 item 3 — the gap between directory-level mergeSchema
    and the Delta/Iceberg ALTER TABLE path): the manifest carries a
    ``@schema=`` pointer next to its file list, a schema version binds
    logical names to stable physical names (the column-mapping
    contract), and an evolution swaps the pointer through
    commit_with_conflict_detection with the old pointer in its
    read_set — concurrent evolutions conflict instead of clobbering
    (pinned in tests/test_lakehouse.py, as are data-file immutability
    across both evolutions and time travel across the boundary:
    v2 reads the pre-ADD shape, v4 shows qty_bucket NULL-backfilled
    for old files and typed for new, v5 drops cents without a
    rewrite). Returned relation: the HEAD read — old files' rows
    NULL-backfilled in the added column, post-evolution files typed,
    dropped column gone — value-attested against the oracle's
    key-slice reconstruction."""
    base = build_evolution_table(spark, sf_dir, "evo")
    return read_evolved(spark, base, 5)


@query(
    "schema_evolution_type_widening",
    oracle="""
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS qty_bucket
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT o_orderkey, CAST(o_custkey % 10 AS DOUBLE) AS qty_bucket
    FROM orders WHERE o_orderkey % 4 = 2
    """,
)
def schema_evolution_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... TYPE widening (bigint → double) as one more
    OCC metadata commit on the evolution machinery — completing the
    family: ADD/DROP (schema_evolution_occ_commit), RENAME
    (scan_column_mapping_rename), WIDEN (this key). The widening is
    READ-side: the physical column type in existing parquet footers
    never changes (no rewrite — the Parquet type-promotion contract);
    the schema version just declares the wider logical type and
    read_evolved casts at projection. Concurrent-evolution OCC
    semantics are inherited from evolve_schema (old pointer in the
    read_set). The returned head relation is the post-widening shape,
    NULL-backfill from the earlier ADD evolution preserved through
    the cast."""
    base = build_evolution_table(spark, sf_dir, "evo_w")
    widened = [
        dict(c, type="double") if c["logical"] == "qty_bucket" else c
        for c in EVO_SCHEMAS[3]
    ]
    evolve_schema(base, 5, 4, widened)  # v6: WIDEN qty_bucket
    return read_evolved(spark, base, 6)


# --------------------------------------------------------------------------
# Timestamp-based time travel (AS OF <timestamp>)
# --------------------------------------------------------------------------
#: synthetic commit times (part of the query spec — deterministic)
_ASOF_COMMITS = {
    1: "2024-01-01 00:00:00",
    2: "2024-01-02 00:00:00",
    3: "2024-01-03 00:00:00",
}


def resolve_as_of(ts: str) -> int:
    """AS OF semantics: the LATEST version whose commit time is ≤ ts
    (Delta/Iceberg both resolve this way); a timestamp before the
    first commit is an error, not an empty table."""
    eligible = [v for v, cts in _ASOF_COMMITS.items() if cts <= ts]
    if not eligible:
        raise ValueError(f"no snapshot committed at or before {ts!r}")
    return max(eligible)


@query(
    "scan_time_travel_as_of_timestamp",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 3 IN (1, 2)) AS n_rows_mid,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 3 IN (1, 2))
                AS BIGINT) AS checksum_mid,
           count(*) AS n_rows_boundary,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_boundary,
           CAST(2 AS BIGINT) AS resolved_mid,
           CAST(3 AS BIGINT) AS resolved_boundary,
           CAST(1 AS BIGINT) AS before_first_fails
    FROM orders
    """,
)
def scan_time_travel_as_of_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-based time travel (AS OF <ts>), completing the
    version-based path (`scan_time_travel_versions`): commit times map
    to versions and a query timestamp resolves to the LATEST commit ≤
    ts. Three semantics attested on the shared 3-version fixture:

    - mid-interval ts ('2024-01-02 12:00' between commits 2 and 3)
      resolves to v2 — its relation recomputed by the oracle from the
      %3∈{1,2} slices;
    - EXACT-boundary ts (= commit 3's time) resolves to v3 inclusive
      (≤, not <) — full orders;
    - a ts before the first commit FAILS CLEANLY (ValueError), never
      an empty read.

    resolved_mid/resolved_boundary/before_first_fails are protocol
    facts; the four count/checksum columns are the real cross-engine
    relation. The resolution itself is a metadata-only driver step —
    at 100 TB it costs one lookup in the commit log regardless of
    table size (string comparison suffices here because the synthetic
    commit times share one format and zone)."""
    from .scale_joins import _ensure_versioned_table

    base = _ensure_versioned_table(spark, sf_dir, "timetravel")

    v_mid = resolve_as_of("2024-01-02 12:00:00")
    v_boundary = resolve_as_of(_ASOF_COMMITS[3])
    try:
        resolve_as_of("2023-12-31 23:59:59")
        before_first_fails = 0
    except ValueError:
        before_first_fails = 1

    mid = read_version(spark, base, v_mid).agg(
        F.count(F.lit(1)).alias("n_rows_mid"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_mid"),
    )
    boundary = read_version(spark, base, v_boundary).agg(
        F.count(F.lit(1)).alias("n_rows_boundary"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_boundary"),
        F.lit(v_mid).cast("bigint").alias("resolved_mid"),
        F.lit(v_boundary).cast("bigint").alias("resolved_boundary"),
        F.lit(before_first_fails).cast("bigint").alias("before_first_fails"),
    )
    # two 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    return mid.crossJoin(boundary)


# --------------------------------------------------------------------------
# RESTORE TABLE ... TO VERSION AS OF — rollback as a FORWARD commit
# --------------------------------------------------------------------------
def restore_to_version(base: str, target_v: int) -> tuple[int, int]:
    """Publish a NEW commit whose file set equals ``target_v``'s —
    Delta ``RESTORE`` / Iceberg ``rollback`` semantics done the
    auditable way: history is never rewritten, the rollback is itself
    a version (so it is time-travelable, CDC-diffable, and subject to
    the same OCC conflict detection as any writer). Metadata-only:
    zero data files are moved or rewritten, at 100 TB the cost is one
    manifest write regardless of table size."""
    latest = log_versions(base)[-1]
    current = set(log_read(base, latest))
    target = set(log_read(base, target_v))
    return commit_with_conflict_detection(
        base,
        latest,
        add=sorted(target - current),
        remove=sorted(current - target),
        # the restore's correctness depends on every file it keeps OR
        # removes staying put between read and publish
        read_set=current | target,
        # and on NOTHING landing in between: a concurrent APPEND passes
        # read-set validation (it removes nothing), but rebasing the
        # restore over it would publish target ∪ {new file} — a head
        # that is not the target. Any intervening commit must abort
        # (Delta RESTORE conflict-detects the same way); the caller
        # re-reads and decides whether to restore over the new history.
        max_retries=0,
    )


@query(
    "table_rollback_restore",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1)) AS n_rows_restored,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 3 IN (0, 1))
                AS BIGINT) AS checksum_restored,
           count(*) AS n_rows_bad_version,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_bad_version,
           count(*) FILTER (WHERE o_orderkey % 3 = 2) AS n_rows_rolled_back,
           CAST(4 AS BIGINT) AS restore_version,
           CAST(1 AS BIGINT) AS history_preserved,
           CAST(1 AS BIGINT) AS restore_matches_target
    FROM orders
    """,
)
def table_rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE to a prior version as a forward commit. A 3-version
    history (v1: o_orderkey%3==0, v2: +%3==1, v3: +%3==2 — the "bad
    batch") is rolled back to v2 through ``restore_to_version``, and
    the audit proves the three RESTORE guarantees:

    - the post-restore head (v4) is value-identical to the target (v2)
      — count+checksum recomputed by the oracle from the %3∈{0,1}
      slices, plus an in-code v4≡v2 equality flag;
    - history is PRESERVED, not rewritten: time travel to v3 still
      reads the bad batch whole (full-orders count+checksum), and the
      restore landed as version 4 on top of 3, never as an edit;
    - the CDC diff v3→v4 is exactly the bad batch
      (``n_rows_rolled_back`` = count of %3==2, recomputed by the
      oracle) — a rollback is an auditable data change like any other.

    restore_version / history_preserved / restore_matches_target are
    protocol facts; the five count columns are the real cross-engine
    relation."""
    base = fixture_base(spark, sf_dir, "restore")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    for name, residue in (("b0", 0), ("b1", 1), ("b2", 2)):
        o.filter(k % 3 == residue).write.parquet(os.path.join(data, name))

    log_create(base, ["b0"])
    commit_with_conflict_detection(base, 1, add=["b1"], remove=[], read_set=set())
    commit_with_conflict_detection(base, 2, add=["b2"], remove=[], read_set=set())

    restore_v, _ = restore_to_version(base, target_v=2)

    def snap(v: int) -> DataFrame:
        return read_version(spark, base, v)

    restored = snap(restore_v).agg(
        F.count(F.lit(1)).alias("n_rows_restored"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_restored"),
    )
    matches_target = int(set(log_read(base, restore_v)) == set(log_read(base, 2)))
    history_ok = int(log_versions(base) == [1, 2, 3, 4])
    # rollback's CDC: rows present in v3 but not in the restore head
    rolled_back = one_sided_diff_count(
        snap(3).select("o_orderkey"), snap(restore_v).select("o_orderkey")
    )
    bad = snap(3).agg(
        F.count(F.lit(1)).alias("n_rows_bad_version"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_bad_version"),
        F.lit(rolled_back).cast("bigint").alias("n_rows_rolled_back"),
        F.lit(restore_v).cast("bigint").alias("restore_version"),
        F.lit(history_ok).cast("bigint").alias("history_preserved"),
        F.lit(matches_target).cast("bigint").alias("restore_matches_target"),
    )
    # two 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    return restored.crossJoin(bad)


# --------------------------------------------------------------------------
# Named refs on the commit log: immutable TAGS + fast-forward BRANCHES
# --------------------------------------------------------------------------
def _ref_path(base: str, kind: str, name: str) -> str:
    d = os.path.join(base, "refs", kind)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{name}.txt")


def _claim_name(base: str, name: str, kind: str) -> str:
    """Claim ``name`` in the ONE shared ref namespace
    (``refs/names/<name>.txt`` records the kind), returning the kind
    now on record. ADVICE r10: the former check-then-claim across the
    two ref directories let a concurrent create_tag(name) +
    set_branch_head(name) each pass the other-kind existence check and
    both succeed; racing on this single file makes cross-kind
    collision a one-claim race — exactly one kind can ever own a
    name."""
    d = os.path.join(base, "refs", "names")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{name}.txt")
    if atomic_claim(p, kind):
        return kind
    with open(p) as f:
        return f.read().strip()


def create_tag(base: str, name: str, version: int) -> None:
    """Immutable named pointer (Iceberg TAG), claimed atomically
    (atomic_claim, not check-then-write — two concurrent create_tag
    calls can never both succeed, and a reader never sees an empty
    tag file): re-creating raises — a tag that can move is just a
    branch. Tag and branch names share ONE namespace, enforced by an
    atomic claim on refs/names/<name>.txt (not by cross-directory
    existence probes — see _claim_name), so resolve_ref is never
    ambiguous. A crash between the name claim and the tag-file claim
    is recoverable: re-running create_tag finds the name recorded as
    'tag' and proceeds to race for the (still unclaimed) tag file."""
    if _claim_name(base, name, "tag") != "tag":
        raise ValueError(f"{name!r} already names a branch")
    if not atomic_claim(_ref_path(base, "tags", name), str(version)):
        raise ValueError(f"tag {name!r} already exists (tags are immutable)")


def _branch_versions(base: str, name: str) -> list[int]:
    import re

    d = os.path.join(base, "refs", "heads")
    if not os.path.isdir(d):
        return []
    # fullmatch, not startswith: branch 'feat' must not swallow the
    # chain files of a sibling named 'feat-v2'
    pat = re.compile(rf"{re.escape(name)}-v(\d+)\.txt")
    return sorted(
        int(mt.group(1)) for f in os.listdir(d) if (mt := pat.fullmatch(f))
    )


def set_branch_head(base: str, name: str, version: int) -> None:
    """Create or FAST-FORWARD a branch head. The head is a claim CHAIN
    (``<name>-v1.txt``, ``-v2`` … — resolve reads the highest), so a
    move is itself an atomic claim: two concurrent fast-forwards race
    for the same chain slot and exactly one wins; the loser re-reads
    and re-checks — the monotonicity invariant holds under concurrency,
    not just in the single-writer test. In this linear commit log every
    older version is an ancestor of every newer one, so the
    fast-forward check is a monotonicity check; moving a head backward
    is rejected (that is what RESTORE-as-forward-commit is for).
    Namespace collision with tags races on the single refs/names claim
    (_claim_name), not on a cross-directory existence probe."""
    if _claim_name(base, name, "branch") != "branch":
        raise ValueError(f"{name!r} already names a tag")
    while True:
        chain = _branch_versions(base, name)
        if chain:
            with open(_ref_path(base, "heads", f"{name}-v{chain[-1]}")) as f:
                cur = int(f.read().strip())
            if version < cur:
                raise ValueError(
                    f"branch {name!r} at v{cur}: moving back to v{version} "
                    "is not a fast-forward"
                )
        slot = (chain[-1] if chain else 0) + 1
        if atomic_claim(
            _ref_path(base, "heads", f"{name}-v{slot}"), str(version)
        ):
            return
        # lost the slot to a concurrent move: re-read and re-validate


def resolve_ref(base: str, name: str) -> int:
    """Resolve a name to a manifest version. Tags and branches share
    one namespace (enforced at creation), so lookup order carries no
    shadowing risk: tag file, else highest branch-chain entry."""
    p = os.path.join(base, "refs", "tags", f"{name}.txt")
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    chain = _branch_versions(base, name)
    if chain:
        with open(_ref_path(base, "heads", f"{name}-v{chain[-1]}")) as f:
            return int(f.read().strip())
    raise FileNotFoundError(f"unknown ref {name!r}")


@query(
    "scan_branch_tag_refs",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 4 IN (0, 1)) AS n_rows_main_before,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 4 IN (0, 1))
                AS BIGINT) AS checksum_main_before,
           count(*) AS n_rows_dev_head,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_dev_head,
           count(*) FILTER (WHERE o_orderkey % 4 IN (0, 1)) AS n_rows_tag_after_ff,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 4 IN (0, 1))
                AS BIGINT) AS checksum_tag_after_ff,
           CAST(1 AS BIGINT) AS main_equals_dev_after_ff,
           CAST(1 AS BIGINT) AS tag_immutable_enforced,
           CAST(1 AS BIGINT) AS ff_backward_rejected
    FROM orders
    """,
)
def scan_branch_tag_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs over the OCC commit log — Iceberg-style TAGS
    (immutable audit pins) and BRANCHES (mutable heads, fast-forward
    publish): the write-audit-publish pattern's missing naming layer,
    and the mechanism that lets a 100 TB table serve `main` to prod
    while an ingest pipeline commits to `dev` against the SAME data
    files (refs are one tiny atomic file each — zero data copies).

    Scenario attested: main history v1(b0: %4==0) → v2(+b1); tag
    `q1-audit` pinned at v2; branch `dev` forked at v2 then advanced
    by two commits (+b2 → v3, +b3 → v4) while `main` stays at v2
    (``n_rows_main_before`` proves reader isolation); publishing =
    fast-forwarding main to dev's head, after which main ≡ dev
    (in-code flag) — and the TAG still reads the v2 slice
    (``n_rows_tag_after_ff``: a tag pins a snapshot, not a branch).
    Re-tagging raises (immutability) and a backward head move is
    rejected (fast-forward-only) — both protocol flags. The six
    count/checksum columns are the real cross-engine relation."""
    base = fixture_base(spark, sf_dir, "refs")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    for name, residue in (("b0", 0), ("b1", 1), ("b2", 2), ("b3", 3)):
        o.filter(k % 4 == residue).write.parquet(os.path.join(data, name))

    log_create(base, ["b0"])
    commit_with_conflict_detection(base, 1, add=["b1"], remove=[], read_set=set())
    set_branch_head(base, "main", 2)
    create_tag(base, "q1-audit", 2)
    set_branch_head(base, "dev", 2)  # fork

    # two commits land on dev; main's head is untouched
    commit_with_conflict_detection(base, 2, add=["b2"], remove=[], read_set=set())
    set_branch_head(base, "dev", 3)
    commit_with_conflict_detection(base, 3, add=["b3"], remove=[], read_set=set())
    set_branch_head(base, "dev", 4)

    def read_ref(name: str) -> DataFrame:
        return read_version(spark, base, resolve_ref(base, name))

    main_before = read_ref("main").agg(
        F.count(F.lit(1)).alias("n_rows_main_before"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_main_before"),
    )

    try:
        create_tag(base, "q1-audit", 4)
        tag_immutable = 0
    except ValueError:
        tag_immutable = 1

    # publish: fast-forward main to dev's head
    set_branch_head(base, "main", resolve_ref(base, "dev"))
    try:
        set_branch_head(base, "dev", 2)
        ff_rejected = 0
    except ValueError:
        ff_rejected = 1

    main_eq_dev = int(resolve_ref(base, "main") == resolve_ref(base, "dev"))
    dev = read_ref("dev").agg(
        F.count(F.lit(1)).alias("n_rows_dev_head"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_dev_head"),
    )
    tag = read_ref("q1-audit").agg(
        F.count(F.lit(1)).alias("n_rows_tag_after_ff"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_tag_after_ff"),
        F.lit(main_eq_dev).cast("bigint").alias("main_equals_dev_after_ff"),
        F.lit(tag_immutable).cast("bigint").alias("tag_immutable_enforced"),
        F.lit(ff_rejected).cast("bigint").alias("ff_backward_rejected"),
    )
    # three 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    return main_before.crossJoin(dev).crossJoin(tag)


# --------------------------------------------------------------------------
# Multi-table atomic transaction: one ROOT pointer spanning two tables
# --------------------------------------------------------------------------
def _root_versions(base: str) -> list[int]:
    return sorted(
        int(f.split("-v")[1].split(".")[0])
        for f in os.listdir(base)
        if f.startswith("root-v") and f.endswith(".txt")
    )


def read_root(base: str) -> dict[str, int]:
    """Resolve the transaction root: {table_name: manifest_version}.
    Readers enter ONLY here — per-table manifests that the root does
    not reference yet are invisible, which is what makes a two-table
    commit all-or-nothing."""
    v = _root_versions(base)[-1]
    out: dict[str, int] = {}
    with open(os.path.join(base, f"root-v{v}.txt")) as f:
        for line in f.read().splitlines():
            t, tv = line.split()
            out[t] = int(tv)
    return out


def publish_root(
    base: str, versions: dict[str, int], parent_v: int | None = None
) -> int:
    """Publish a new consistent (table → version) vector as the next
    root after ``parent_v`` (default: the latest root at call time).
    Single atomic claim — the cross-table analog of the per-table
    manifest publish. A lost claim means ANOTHER TRANSACTION committed
    since this one read its snapshot; unlike a per-table append there
    is no safe blind rebase (the winner may have advanced the same
    tables), so the loser gets CommitConflict and must revalidate its
    per-table commits against the new root before retrying."""
    if parent_v is None:
        parent_v = _root_versions(base)[-1]
    v = parent_v + 1
    body = "\n".join(f"{t} {tv}" for t, tv in sorted(versions.items()))
    if not atomic_claim(os.path.join(base, f"root-v{v}.txt"), body):
        raise CommitConflict(
            f"root v{v} claimed by a concurrent transaction — revalidate "
            "table commits against the new root and retry"
        )
    return v


@query(
    "manifest_multi_table_transaction",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1)) AS n_fact_rows,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 3 IN (0, 1))
                AS BIGINT) AS fact_checksum,
           count(*) FILTER (WHERE o_orderkey % 3 IN (0, 1)) AS summary_total_n,
           CAST((SELECT count(DISTINCT o_orderstatus) FROM orders
                 WHERE o_orderkey % 3 = 0)
              + (SELECT count(DISTINCT o_orderstatus) FROM orders
                 WHERE o_orderkey % 3 = 1) AS BIGINT) AS n_summary_rows,
           count(*) FILTER (WHERE o_orderkey % 3 = 0) AS mid_txn_fact_rows,
           count(*) FILTER (WHERE o_orderkey % 3 = 0) AS mid_txn_summary_total,
           CAST(1 AS BIGINT) AS mid_txn_pair_consistent,
           CAST(1 AS BIGINT) AS final_pair_consistent
    FROM orders
    """,
)
def manifest_multi_table_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE transaction spanning TWO tables — fact slices plus their
    per-slice summary aggregates (the fact + materialized-view pair) —
    made atomic by a ROOT pointer: each table keeps its own OCC
    manifest log, but readers resolve table versions ONLY through the
    latest root, and a transaction (a) commits to both per-table logs,
    then (b) publishes the new (fact_v, summary_v) vector as one
    atomic root claim. Between (a) and (b) — the window where BOTH
    table logs already carry the new data — a reader still resolves
    the OLD consistent pair: the audit takes a real mid-transaction
    read there and checks BOTH its content (``mid_txn_fact_rows``,
    oracle-recomputed: slice-0 only) and its cross-table INVARIANT
    (sum of summary counts == fact row count — the equation a torn
    read breaks). Delta/Iceberg cannot do this across tables (one log
    per table is their atomicity boundary); engines add exactly this
    root-pointer design (Iceberg catalog-level transactions) to fix
    it. Cost at 100 TB: the root is O(tables) bytes — planning
    overhead of one extra tiny read per query.

    The final state (both transactions applied) is the real
    cross-engine relation: fact = %3∈{0,1}, summary = per-status
    counts of each committed slice, and the invariant
    ``summary_total_n == n_fact_rows`` is recomputed independently by
    the oracle rather than asserted as a protocol fact."""
    base = fixture_base(spark, sf_dir, "mtx")
    shutil.rmtree(base, ignore_errors=True)
    fact_log = os.path.join(base, "tables", "fact")
    sum_log = os.path.join(base, "tables", "summary")
    fact_data = os.path.join(base, "data", "fact")
    sum_data = os.path.join(base, "data", "summary")
    for p in (fact_log, sum_log, fact_data, sum_data):
        os.makedirs(p)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    # slice data + its summary aggregate, one partitioned write each
    o.filter(k % 3 < 2).withColumn("s", (k % 3).cast("int")).repartition(
        "s"
    ).write.partitionBy("s").parquet(os.path.join(fact_data, "slices"))
    (
        o.filter(k % 3 < 2)
        .groupBy((k % 3).cast("int").alias("s"), "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .repartition("s")
        .write.partitionBy("s")
        .parquet(os.path.join(sum_data, "slices"))
    )

    # empty genesis: root v1 points both tables at their empty v1
    log_create(fact_log, [])
    log_create(sum_log, [])
    atomic_claim(os.path.join(base, "root-v1.txt"), "fact 1\nsummary 1")

    def read_pair() -> tuple[DataFrame, DataFrame]:
        root = read_root(base)
        def tbl(log: str, data: str, tv: int, schema: str) -> DataFrame:
            files = log_read(log, tv)
            if not files:
                return spark.createDataFrame([], schema)
            return spark.read.parquet(*[os.path.join(data, b) for b in files])
        return (
            tbl(fact_log, fact_data, root["fact"],
                "o_orderkey long, o_orderstatus string"),
            tbl(sum_log, sum_data, root["summary"],
                "o_orderstatus string, n long"),
        )

    def txn(slice_id: int) -> None:
        fv, _ = commit_with_conflict_detection(
            fact_log, log_versions(fact_log)[-1],
            add=[f"slices/s={slice_id}"], remove=[], read_set=set(),
        )
        sv, _ = commit_with_conflict_detection(
            sum_log, log_versions(sum_log)[-1],
            add=[f"slices/s={slice_id}"], remove=[], read_set=set(),
        )
        publish_root(base, {"fact": fv, "summary": sv})

    txn(0)

    # transaction 2, paused in the torn window: both table logs have
    # advanced, the root has not — a reader must still see txn 1 only
    fv, _ = commit_with_conflict_detection(
        fact_log, log_versions(fact_log)[-1],
        add=["slices/s=1"], remove=[], read_set=set(),
    )
    sv, _ = commit_with_conflict_detection(
        sum_log, log_versions(sum_log)[-1],
        add=["slices/s=1"], remove=[], read_set=set(),
    )
    mid_fact, mid_sum = read_pair()
    mid_fact_n = mid_fact.count()
    mid_sum_total = (mid_sum.agg(F.sum("n")).first()[0] or 0)
    mid_consistent = int(mid_fact_n == mid_sum_total)
    publish_root(base, {"fact": fv, "summary": sv})  # txn 2 completes

    fact, summ = read_pair()
    sum_total = summ.agg(F.sum("n")).first()[0]
    sum_rows = summ.count()
    final_consistent = int(fact.count() == sum_total)
    return fact.agg(
        F.count(F.lit(1)).alias("n_fact_rows"),
        F.sum("o_orderkey").cast("bigint").alias("fact_checksum"),
        F.lit(sum_total).cast("bigint").alias("summary_total_n"),
        F.lit(sum_rows).cast("bigint").alias("n_summary_rows"),
        F.lit(mid_fact_n).cast("bigint").alias("mid_txn_fact_rows"),
        F.lit(mid_sum_total).cast("bigint").alias("mid_txn_summary_total"),
        F.lit(mid_consistent).cast("bigint").alias("mid_txn_pair_consistent"),
        F.lit(final_consistent).cast("bigint").alias("final_pair_consistent"),
    )


# --------------------------------------------------------------------------
# Manifest-level min/max file stats: planner prunes files before Spark
# --------------------------------------------------------------------------
@query(
    "manifest_stats_file_pruning",
    oracle="""
    WITH w AS (SELECT CAST(1 + max(o_orderkey) // 8 AS BIGINT) AS w FROM orders)
    SELECT count(*) AS n_rows_pruned,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_pruned,
           CAST(8 AS BIGINT) AS n_files_total,
           CAST(2 AS BIGINT) AS n_files_scanned,
           CAST(1 AS BIGINT) AS pruned_equals_full,
           CAST(1 AS BIGINT) AS scan_reads_only_selected
    FROM orders, w
    WHERE o_orderkey >= w.w AND o_orderkey < 3 * w.w
    """,
)
def manifest_stats_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-carried min/max column stats drive PLANNER-side file
    pruning — the Iceberg manifest-stats / Delta data-skipping design,
    one level ABOVE parquet row-group zonemaps
    (`scan_file_zonemap_skipping_audit`): the planner reads O(files)
    stats from table metadata and hands Spark only the files whose
    [min,max] intersect the predicate, so the scan's task count — not
    just its row count — shrinks with selectivity. At 100 TB the
    difference is listing/opening 2 files instead of scheduling tasks
    over 100k and letting footer zonemaps discard them one task at a
    time.

    Fixture: orders range-layout into 8 bucket files (one partitioned
    write), a stats sidecar (bucket → min/max o_orderkey) built from
    ONE aggregation — never per-file scans. The probe predicate
    [W, 3W) covers exactly buckets 1-2; the audit proves (a) the
    pruned relation equals the ORACLE's recomputation from raw orders
    AND an in-code unpruned read (``pruned_equals_full``), (b) Spark's
    ``inputFiles()`` for the pruned plan touch only the 2 selected
    bucket dirs (``scan_reads_only_selected``), (c) exactly 2 of 8
    files survive pruning (protocol facts)."""
    base = fixture_base(spark, sf_dir, "fstats")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    max_key = o.agg(F.max("o_orderkey")).first()[0]
    w = 1 + max_key // 8
    bucket = (F.col("o_orderkey") / F.lit(w)).cast("bigint")
    o.withColumn("bk", bucket).repartition("bk").write.partitionBy("bk").parquet(
        os.path.join(data, "buckets")
    )
    # table-level stats from ONE partial-agg pass (what a writer
    # records at commit time), persisted as the manifest stats sidecar
    stats = {
        r["bk"]: (r["mn"], r["mx"])
        for r in o.groupBy(bucket.alias("bk"))
        .agg(F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx"))
        .collect()  # bounded by bucket count, never by rows
    }
    write_atomic(
        os.path.join(base, "stats-v1.txt"),
        "\n".join(f"{b} {mn} {mx}" for b, (mn, mx) in sorted(stats.items())),
    )

    lo, hi = w, 3 * w  # [lo, hi): exactly buckets 1 and 2
    with open(os.path.join(base, "stats-v1.txt")) as f:
        recorded = [ln.split() for ln in f.read().splitlines()]
    selected = [
        b for b, mn, mx in recorded if not (int(mx) < lo or int(mn) >= hi)
    ]
    pruned = spark.read.parquet(
        *[os.path.join(data, f"buckets/bk={b}") for b in selected]
    ).filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))

    sel_dirs = {f"bk={b}" for b in selected}
    reads_only_selected = int(
        all(any(d in p for d in sel_dirs) for p in pruned.inputFiles())
    )
    full = (
        spark.read.parquet(os.path.join(data, "buckets"))
        .filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .first()
    )
    agg = pruned.agg(
        F.count(F.lit(1)).alias("n_rows_pruned"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_pruned"),
    ).first()
    pruned_equals_full = int((agg[0], agg[1]) == (full[0], full[1]))
    return spark.range(1).select(
        F.lit(agg[0]).cast("bigint").alias("n_rows_pruned"),
        F.lit(agg[1]).cast("bigint").alias("checksum_pruned"),
        F.lit(len(recorded)).cast("bigint").alias("n_files_total"),
        F.lit(len(selected)).cast("bigint").alias("n_files_scanned"),
        F.lit(pruned_equals_full).cast("bigint").alias("pruned_equals_full"),
        F.lit(reads_only_selected).cast("bigint").alias("scan_reads_only_selected"),
    )


# --------------------------------------------------------------------------
# Snapshot isolation: a pinned reader repeats identically under writes
# --------------------------------------------------------------------------
@query(
    "scan_snapshot_isolation_repeatable_read",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_rows_first,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS checksum_first,
           count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_rows_repeat,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS checksum_repeat,
           count(*) AS n_rows_new_reader,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum_new_reader,
           CAST(1 AS BIGINT) AS repeatable_read_held
    FROM orders
    """,
)
def scan_snapshot_isolation_repeatable_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot isolation — the ACID 'I' the versioned log gives
    readers for free, stated as its own contract: a reader resolves
    its manifest ONCE (the snapshot pin) and every subsequent read in
    that query/session sees the SAME file set, no matter what commits
    land meanwhile; only a NEW reader resolving the latest root sees
    them. The audit pins v1 (%2==0 slice), lands a concurrent append
    (v2, +%2==1), re-reads through the PIN (count+checksum must equal
    the first read — both oracle-recomputed), then opens a fresh
    reader that must see the whole table. This is why long-running
    100 TB jobs don't tear: the pin is a list of immutable files, and
    expiry (`expire_snapshots_retention`) is the only thing allowed to
    break it — by contract, after the retention horizon."""
    base = fixture_base(spark, sf_dir, "si")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    o.withColumn("p", (k % 2).cast("int")).repartition("p").write.partitionBy(
        "p"
    ).parquet(os.path.join(data, "slices"))

    log_create(base, ["slices/p=0"])

    pinned = log_read(base, 1)  # the snapshot pin: resolved ONCE

    def read_files(files: list[str]) -> DataFrame:
        return spark.read.parquet(*[os.path.join(data, b) for b in files])

    first = read_files(pinned).agg(
        F.count(F.lit(1)), F.sum("o_orderkey").cast("bigint")
    ).first()

    # concurrent writer lands an append between the two reads
    commit_with_conflict_detection(
        base, 1, add=["slices/p=1"], remove=[], read_set=set()
    )

    repeat = read_files(pinned).agg(
        F.count(F.lit(1)), F.sum("o_orderkey").cast("bigint")
    ).first()
    held = int(tuple(first) == tuple(repeat))

    new_reader = read_files(log_read(base, log_versions(base)[-1]))
    return new_reader.agg(
        F.lit(first[0]).cast("bigint").alias("n_rows_first"),
        F.lit(first[1]).cast("bigint").alias("checksum_first"),
        F.lit(repeat[0]).cast("bigint").alias("n_rows_repeat"),
        F.lit(repeat[1]).cast("bigint").alias("checksum_repeat"),
        F.count(F.lit(1)).alias("n_rows_new_reader"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_new_reader"),
        F.lit(held).cast("bigint").alias("repeatable_read_held"),
    )


# --------------------------------------------------------------------------
# DESCRIBE HISTORY as a relation: the commit log queryable like a table
# --------------------------------------------------------------------------
@query(
    "table_history_metadata_relation",
    oracle="""
    SELECT 1 AS version, 1 AS n_files, 1 AS n_files_added, 0 AS n_files_removed,
           count(*) FILTER (WHERE o_orderkey % 3 = 1) AS n_rows,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 3 = 1) AS BIGINT)
             AS checksum
    FROM orders
    UNION ALL
    SELECT 2, 2, 1, 0,
           count(*) FILTER (WHERE o_orderkey % 3 IN (1, 2)),
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 3 IN (1, 2)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 3, 3, 1, 0,
           count(*),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def table_history_metadata_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit log exposed AS A RELATION — Delta ``DESCRIBE
    HISTORY`` / Iceberg's ``.snapshots``/``.files`` metadata tables:
    one row per version carrying the log-derived facts (file count,
    files added/removed vs the parent) joined with the DATA-verified
    facts (row count + checksum of that snapshot, each oracle-
    recomputed from the cumulative residue slices) — so the metadata
    relation is attested against what the versions actually contain,
    not just against the log's own bookkeeping. Auditors and
    retention/debugging jobs query exactly this shape (which commit
    doubled the row count? which version added the bad file?). The
    log-derived columns cost O(versions) tiny file reads — no data
    scan; the verification columns cost one scan per version and are
    the audit's choice, not the operator's requirement."""
    from .scale_joins import _ensure_versioned_table

    base = _ensure_versioned_table(spark, sf_dir, "history")
    versions = log_versions(base)

    out = None
    prev: set[str] = set()
    for v in versions:
        files = set(log_read(base, v))
        row = read_version(spark, base, v).agg(
            F.lit(v).cast("int").alias("version"),
            F.lit(len(files)).cast("int").alias("n_files"),
            F.lit(len(files - prev)).cast("int").alias("n_files_added"),
            F.lit(len(prev - files)).cast("int").alias("n_files_removed"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("checksum"),
        )
        out = row if out is None else out.unionByName(row)
        prev = files
    return out


# --------------------------------------------------------------------------
# WAP on a BRANCH: write-audit-publish via refs (Iceberg spark.wap.branch)
# --------------------------------------------------------------------------
@query(
    "sink_wap_branch_publish",
    oracle="""
    SELECT count(*) FILTER (WHERE o_orderkey % 4 IN (0, 1)) AS n_rows_during_audit,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 4 IN (0, 1))
                AS BIGINT) AS checksum_during_audit,
           count(*) FILTER (WHERE o_orderkey % 4 IN (0, 1, 2)) AS n_rows_main_final,
           CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 4 IN (0, 1, 2))
                AS BIGINT) AS checksum_main_final,
           count(*) FILTER (WHERE o_orderkey % 4 = 3) AS n_rows_red_batch,
           CAST(1 AS BIGINT) AS green_published_via_ff,
           CAST(1 AS BIGINT) AS red_never_reaches_main,
           CAST(1 AS BIGINT) AS red_branch_abandoned
    FROM orders
    """,
)
def sink_wap_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish ON A BRANCH — the composition the refs
    machinery exists for, and how Iceberg ships WAP in production
    (``spark.wap.branch``): the ingest session commits its staged
    batch to an AUDIT BRANCH (a real commit — time-travelable,
    CDC-diffable, vacuumable), the audit queries the branch snapshot,
    and publish is a metadata-only FAST-FORWARD of main. Compared to
    `sink_write_audit_publish` (orphan-staging WAP), the branch
    variant gives the audit a first-class table to query and makes
    multi-batch staging composable.

    Attested on one green and one red batch: DURING the green audit a
    main reader still sees the pre-batch snapshot (count+checksum
    oracle-recomputed — reader isolation); after the green
    fast-forward main carries the batch (final relation
    oracle-recomputed); the RED batch (violates the residue
    expectation) commits to ITS branch, fails the audit, its branch is
    abandoned — main's final file set provably excludes it
    (``red_never_reaches_main``) while the dead branch still resolves
    (``red_branch_abandoned``: auditable, vacuumable later, exactly
    like Iceberg's stale branches). The red-batch row count is real
    cross-engine data, not a protocol constant."""
    base = fixture_base(spark, sf_dir, "wapbr")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    o.withColumn("b", (k % 4).cast("int")).repartition("b").write.partitionBy(
        "b"
    ).parquet(os.path.join(data, "slices"))

    log_create(base, ["slices/b=0"])
    commit_with_conflict_detection(
        base, 1, add=["slices/b=1"], remove=[], read_set=set()
    )
    set_branch_head(base, "main", 2)

    def read_ref(name: str) -> DataFrame:
        return read_version(spark, base, resolve_ref(base, name))

    def wap(batch: str, branch: str, expectation) -> bool:
        """Commit ``batch`` onto a fresh audit branch forked from MAIN,
        audit the BRANCH snapshot, fast-forward main only on green.

        The branch manifest's content derives from main's snapshot —
        NOT from the log tip (commit_with_conflict_detection builds on
        the tip and would fold an abandoned red branch's files into
        every later audit): in a shared-version log each manifest is a
        full standalone file list, so a branch commit claims the next
        free version number with content = parent-branch files + batch.
        """
        parent = resolve_ref(base, "main")
        files = log_read(base, parent) + [batch]
        while True:
            v = log_versions(base)[-1] + 1
            if log_claim(base, v, files):
                break  # lost slots just mean another writer took a
                # version number; branch content never rebases
        set_branch_head(base, branch, v)
        ok = expectation(read_ref(branch))
        if ok:
            set_branch_head(base, "main", v)
        # red: the branch stays where it is — abandoned, not rewritten
        assert resolve_ref(base, "main") == (v if ok else parent)
        return ok

    # RED batch first — the adversarial order: its abandoned branch
    # must not leak into the later green audit (a tip-derived fork
    # would fold slices/b=3 into audit-g; fork-from-main cannot)
    red_ok = wap(
        "slices/b=3", "audit-r",
        lambda df: df.filter(k % 4 == 3).count() == 0,
    )

    # green batch: slice 2 — capture the reader-isolation relation
    # mid-audit (expectation runs between commit and publish)
    during = {}

    def green_expect(branch_df: DataFrame) -> bool:
        r = read_ref("main").agg(
            F.count(F.lit(1)), F.sum("o_orderkey").cast("bigint")
        ).first()
        during["n"], during["sum"] = r[0], r[1]
        return branch_df.filter(k % 4 == 3).count() == 0

    green_ok = wap("slices/b=2", "audit-g", green_expect)
    assert "slices/b=3" not in set(
        log_read(base, resolve_ref(base, "audit-g"))
    ), "abandoned red branch leaked into the green audit branch"

    main_files = set(log_read(base, resolve_ref(base, "main")))
    red_isolated = int("slices/b=3" not in main_files)
    red_branch_lives = int(
        "slices/b=3" in set(log_read(base, resolve_ref(base, "audit-r")))
    )
    red_rows = read_ref("audit-r").filter(k % 4 == 3)

    final = read_ref("main").agg(
        F.lit(during["n"]).cast("bigint").alias("n_rows_during_audit"),
        F.lit(during["sum"]).cast("bigint").alias("checksum_during_audit"),
        F.count(F.lit(1)).alias("n_rows_main_final"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_main_final"),
        F.lit(int(green_ok and not red_ok)).cast("bigint").alias(
            "green_published_via_ff"
        ),
        F.lit(red_isolated).cast("bigint").alias("red_never_reaches_main"),
        F.lit(red_branch_lives).cast("bigint").alias("red_branch_abandoned"),
    )
    red_n = red_rows.agg(F.count(F.lit(1)).alias("n_rows_red_batch"))
    # two 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    return final.crossJoin(red_n).select(
        "n_rows_during_audit", "checksum_during_audit",
        "n_rows_main_final", "checksum_main_final",
        "n_rows_red_batch", "green_published_via_ff",
        "red_never_reaches_main", "red_branch_abandoned",
    )


# --------------------------------------------------------------------------
# SHALLOW CLONE: a new table whose manifest REFERENCES the source's files
# --------------------------------------------------------------------------
def read_manifest_rooted(spark: SparkSession, base: str, v: int) -> DataFrame:
    """Read manifest version v whose entries are paths relative to the
    log base's PARENT — the resolution rule that lets one table's
    manifest reference another table's data files (the shallow-clone
    contract: Delta CLONE and Iceberg snapshot-ref tables do exactly
    this; data files are owned by whoever wrote them, manifests only
    point)."""
    root = os.path.dirname(base.rstrip("/"))
    files = [os.path.join(root, ln) for ln in log_read(base, v)]
    return spark.read.parquet(*files)


def build_clone_pair(spark: SparkSession, sf_dir: str, tag: str):
    """Build the shallow-clone fixture pair: source table (files a,b ->
    +c), clone created as a one-manifest metadata commit referencing
    the source's v1 files, then divergent histories (clone drops
    inherited a, appends its own d with a modified payload). Asserts
    the zero-copy and source-immutability claims in-code. Returns
    (base_src, base_cl)."""
    base_src = fixture_base(spark, sf_dir, f"{tag}_src")
    base_cl = fixture_base(spark, sf_dir, f"{tag}_dst")
    shutil.rmtree(base_src, ignore_errors=True)
    shutil.rmtree(base_cl, ignore_errors=True)
    src_tag = os.path.basename(base_src.rstrip("/"))

    k = F.col("o_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    data = os.path.join(base_src, "data")
    os.makedirs(data)
    for name, pred in (("a", k % 4 == 0), ("b", k % 4 == 1)):
        o.filter(pred).write.parquet(os.path.join(data, name))
    log_create(base_src, [f"{src_tag}/data/a", f"{src_tag}/data/b"])

    def src_mtimes() -> dict[str, float]:
        out: dict[str, float] = {}
        for root, _d, files in os.walk(data):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = src_mtimes()

    # CLONE: one metadata commit referencing the source's v1 files
    os.makedirs(os.path.join(base_cl, "data"))
    log_create(base_cl, log_read(base_src, 1))

    # independent evolution — source appends c
    o.filter(k % 4 == 2).write.parquet(os.path.join(data, "c"))
    commit_with_conflict_detection(
        base_src, 1, add=[f"{src_tag}/data/c"], remove=[], read_set=set()
    )
    # clone drops inherited a, appends its own d (modified payload)
    cl_tag = os.path.basename(base_cl.rstrip("/"))
    o.filter(k % 4 == 3).withColumn(
        "cents", F.col("cents") + 7
    ).write.parquet(os.path.join(base_cl, "data", "d"))
    commit_with_conflict_detection(
        base_cl,
        1,
        add=[f"{cl_tag}/data/d"],
        remove=[f"{src_tag}/data/a"],
        read_set={f"{src_tag}/data/a"},
    )

    # zero-copy + immutability claims (source's own append excluded)
    after = {p: t for p, t in src_mtimes().items() if p in before}
    assert after == before, "clone must not touch source files"
    cloned_local = [
        fn
        for root, _d, files in os.walk(os.path.join(base_cl, "data"))
        for fn in files
        if fn.endswith(".parquet")
    ]
    d_local = [
        fn
        for root, _d, files in os.walk(os.path.join(base_cl, "data", "d"))
        for fn in files
        if fn.endswith(".parquet")
    ]
    assert sorted(cloned_local) == sorted(d_local), (
        "shallow clone copied data files it should only reference"
    )

    return base_src, base_cl


@query(
    "table_shallow_clone_divergence",
    oracle="""
    SELECT 'src' AS side, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    UNION ALL
    SELECT 'clone' AS side, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT 'clone' AS side, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 7 AS cents
    FROM orders WHERE o_orderkey % 4 = 3
    """,
)
def table_shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE on the OCC log (Delta ``CREATE TABLE ... CLONE``):
    the clone is a NEW commit log whose v1 manifest simply REFERENCES
    the source's data files — zero bytes copied (asserted in-code: the
    clone's data dir holds only files the clone itself wrote later).
    Both tables then evolve INDEPENDENTLY with full OCC semantics:
    the source appends a file; the clone drops one inherited file and
    appends its own — four commits, two histories, one set of shared
    immutable data files (source files byte-untouched, asserted by
    mtime). Returned relation: BOTH head snapshots side-by-side
    (side ∈ {src, clone}), each oracle-recomputed from key slices.
    At 100 TB a clone for a dev/test/what-if branch is a one-file
    metadata commit instead of a table copy — the same economics every
    other operator in this family buys."""
    base_src, base_cl = build_clone_pair(spark, sf_dir, "clone")
    src_head = read_manifest_rooted(spark, base_src, 2).select(
        F.lit("src").alias("side"), "o_orderkey", "cents"
    )
    cl_head = read_manifest_rooted(spark, base_cl, 2).select(
        F.lit("clone").alias("side"), "o_orderkey", "cents"
    )
    return src_head.unionByName(cl_head)


def vacuum_shared_root(root: str, log_bases: list[str]) -> list[str]:
    """VACUUM for a data root that MULTIPLE commit logs reference
    (the shallow-clone world): a file is live if ANY version of ANY
    log under the root references it — the per-table candidate set is
    wrong by construction once clones exist (Delta documents exactly
    this hazard: VACUUM on a cloned table's source deletes files the
    clone still needs). Deletes directory-level data entries with no
    referencing manifest anywhere and returns their names.

    Entry-convention guard (ADVICE r11): liveness is probed as
    ``{tag}/data/{d}`` i.e. ROOT-relative entries. A log written with
    BASE-relative entries (``a``, ``b`` — the convention of the
    schema-evolution fixtures) would match nothing and every live
    directory would be rmtree'd. Since this function performs
    irreversible deletes, any manifest entry not of the root-relative
    ``<tag>/data/<dir>`` form for a known tag raises instead of
    deleting."""
    tags = {os.path.basename(b.rstrip("/")) for b in log_bases}
    referenced: set[str] = set()
    for base in log_bases:
        for v in log_versions(base):
            referenced.update(log_read(base, v))
    bad = sorted(
        e
        for e in referenced
        if not (
            len(e.split("/")) == 3
            and e.split("/")[0] in tags
            and e.split("/")[1] == "data"
        )
    )
    if bad:
        raise ValueError(
            f"vacuum_shared_root requires root-relative manifest entries "
            f"('<tag>/data/<dir>' with tag in {sorted(tags)}); refusing "
            f"to delete with non-conforming entries {bad[:5]} — a "
            f"base-relative log would mark every live directory orphaned"
        )
    removed: list[str] = []
    for base in log_bases:
        tag = os.path.basename(base.rstrip("/"))
        data = os.path.join(base, "data")
        if not os.path.isdir(data):
            continue
        for d in sorted(os.listdir(data)):
            if f"{tag}/data/{d}" not in referenced:
                shutil.rmtree(os.path.join(data, d))
                removed.append(f"{tag}/data/{d}")
    return removed


@query(
    "vacuum_clone_reference_safe",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE o_orderkey % 4 IN (0, 2)) AS BIGINT)
             AS n_rows_src,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE o_orderkey % 4 IN (0, 2)) AS BIGINT)
             AS cents_checksum_src,
           CAST(count(*) FILTER (WHERE o_orderkey % 4 IN (1, 3)) AS BIGINT)
             AS n_rows_clone,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    + CASE WHEN o_orderkey % 4 = 3 THEN 7 ELSE 0 END)
                FILTER (WHERE o_orderkey % 4 IN (1, 3)) AS BIGINT)
             AS cents_checksum_clone,
           CAST(1 AS BIGINT) AS n_naive_only_candidates,
           CAST(1 AS BIGINT) AS n_orphans_removed,
           CAST(1 AS BIGINT) AS clone_file_survived
    FROM orders
    """,
)
def vacuum_clone_reference_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM must not break SHALLOW CLONES — the documented Delta
    hazard, reproduced then closed: the source drops file b and
    EXPIRES its old snapshots, so b is no longer referenced anywhere
    in the SOURCE's own log — a per-table vacuum would delete it —
    but the clone's head still reads b. The shared-root vacuum
    computes liveness over EVERY log under the root: b survives
    (clone_file_survived, re-verified by actually re-reading the
    clone head afterwards — the data columns, oracle-recomputed from
    key slices, ARE that read), while a genuinely orphaned staged dir
    is removed. n_naive_only_candidates counts the files the
    per-table set difference would have wrongly deleted (filesystem
    facts, literal-adjacent class documented at
    vacuum_orphan_files_safe)."""
    base_src, base_cl = build_clone_pair(spark, sf_dir, "vacln")
    src_tag = os.path.basename(base_src.rstrip("/"))

    # source drops b (still referenced by the clone), then expires
    # history — b now unreferenced IN THE SOURCE LOG alone
    commit_with_conflict_detection(
        base_src, 2, add=[], remove=[f"{src_tag}/data/b"], read_set=set()
    )
    expire_snapshots(base_src, keep_last_n=1)

    # a dying writer's debris: referenced by NO log — must be removed
    load_table(spark, sf_dir, "orders").select("o_orderkey").limit(100).write.parquet(
        os.path.join(base_src, "data", "orphan")
    )

    # the naive per-table candidate set (dry-run, never executed)
    src_ref: set[str] = set()
    for v in log_versions(base_src):
        src_ref.update(log_read(base_src, v))
    naive = {
        f"{src_tag}/data/{d}"
        for d in os.listdir(os.path.join(base_src, "data"))
        if f"{src_tag}/data/{d}" not in src_ref
    }

    root = os.path.dirname(base_src.rstrip("/"))
    removed = vacuum_shared_root(root, [base_src, base_cl])

    naive_only = sorted(naive - set(removed))
    assert naive_only == [f"{src_tag}/data/b"], (
        "the clone-referenced file must be exactly what naive vacuum "
        f"would wrongly delete: {naive_only}"
    )
    assert removed == [f"{src_tag}/data/orphan"]

    # two 1-row aggregate frames folded into the audit row (documented
    # crossJoin-of-scalars class)
    src_head = read_manifest_rooted(spark, base_src, 3)
    cl_head = read_manifest_rooted(spark, base_cl, 2)
    return (
        src_head.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_src"),
            F.sum("cents").cast("bigint").alias("cents_checksum_src"),
        )
        .crossJoin(
            cl_head.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows_clone"),
                F.sum("cents").cast("bigint").alias("cents_checksum_clone"),
            )
        )
        .select(
            "n_rows_src",
            "cents_checksum_src",
            "n_rows_clone",
            "cents_checksum_clone",
            F.lit(len(naive_only)).cast("bigint").alias("n_naive_only_candidates"),
            F.lit(len(removed)).cast("bigint").alias("n_orphans_removed"),
            F.lit(1).cast("bigint").alias("clone_file_survived"),
        )
    )
