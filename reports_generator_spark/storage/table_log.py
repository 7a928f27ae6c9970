"""The manifest log: atomic claims, version reads, OCC commits, expiry.

Version N of a table is ``{base}/manifest-v{N}.txt``, its full file
list one entry per line (the table-format metadata log — Delta/Iceberg
snapshots — in its minimal form). A version file is created only by
an atomic claim and never rewritten; expiry is the only thing that
removes one.
"""

from __future__ import annotations

import os
import tempfile


class CommitConflict(Exception):
    """A concurrent commit replaced/removed files this writer read."""


def atomic_claim(path: str, content: str) -> bool:
    """Claim ``path`` with ``content`` atomically: fully write a unique
    temp file (mkstemp — safe across processes AND threads; the .tmp
    suffix keeps it invisible to the *.txt log scans), then hard-LINK
    it to the target name — atomic create-WITH-content (the
    object-store analog is an if-none-match PUT of the whole body).
    Exactly one concurrent writer can win a name, and no reader ever
    observes a claimed-but-empty file (an O_CREAT|O_EXCL-then-write
    scheme would expose exactly that window). Returns False if the
    name was already claimed. ONE definition for every claim site —
    manifest commits, named refs, transaction roots, epoch markers —
    so a fix (e.g. an fsync policy) reaches all of them."""
    fd, tmp = tempfile.mkstemp(
        prefix=os.path.basename(path) + ".", suffix=".tmp",
        dir=os.path.dirname(path),
    )
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        os.remove(tmp)  # win, lose, or crash: never leak the temp


def write_atomic(path: str, content: str) -> None:
    """Fully write a temp file, then os.replace into place — a reader
    sees the old file, the new file, or no file; never a torn write.
    For single-writer files that may be overwritten (pointers,
    checkpoints); names that must be won exactly once use
    :func:`atomic_claim`."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def _manifest(base: str, v: int) -> str:
    return os.path.join(base, f"manifest-v{v}.txt")


def log_versions(base: str) -> list[int]:
    """Every version on the log, ascending."""
    return sorted(
        int(f.split("-v")[1].split(".")[0])
        for f in os.listdir(base)
        if f.startswith("manifest-v") and f.endswith(".txt")
    )


def log_read(base: str, v: int) -> list[str]:
    """Version ``v``'s file list (FileNotFoundError once expired)."""
    with open(_manifest(base, v)) as f:
        return f.read().split()


def log_claim(base: str, v: int, files: list[str]) -> bool:
    """Publish ``files`` as version ``v`` if no writer has claimed that
    version yet; False if one has."""
    return atomic_claim(_manifest(base, v), "\n".join(files))


def log_create(base: str, files: list[str]) -> None:
    """Create the table: version 1 listing ``files``. Goes through the
    claim, so it refuses to overwrite — a dir that already holds a v1
    raises FileExistsError and its manifest is left unchanged."""
    if not log_claim(base, 1, files):
        raise FileExistsError(f"{_manifest(base, 1)} already exists")


def read_version(spark, base: str, v: int):
    """Scan version ``v``'s files, which live under ``{base}/data``, as
    one DataFrame; the manifest read is metadata-only."""
    data = os.path.join(base, "data")
    return spark.read.parquet(*[os.path.join(data, b) for b in log_read(base, v)])


def commit_with_conflict_detection(
    base: str,
    parent_v: int,
    add: list[str],
    remove: list[str],
    read_set: set[str],
    max_retries: int = 5,
) -> tuple[int, int]:
    """Optimistic commit: attempt to publish ``parent files - remove +
    add`` as version parent+1 through :func:`atomic_claim` — exactly
    one concurrent writer can win a version number, and no reader can
    ever observe a claimed-but-empty manifest. A loser re-reads the
    log: if every file in its ``read_set`` still exists in the new
    latest version the change is independent — REBASE onto it and
    retry; if a concurrent commit removed/replaced any file the
    writer's outcome depends on, raise CommitConflict (ABORT — the
    lost-update this protocol exists to prevent).

    Read-set validation walks EVERY intervening commit
    (parent+1..latest), not just the latest manifest: a file removed
    and later re-added under the same name between the two (the ABA
    case — e.g. a compaction dropped it, then an unrelated writer
    appended a new file reusing the name) is still a conflict,
    because the re-added file is not the bytes this writer read.
    Delta and Iceberg validate per intervening commit for the same
    reason.

    Returns (committed_version, n_retries)."""
    rm = set(remove)
    v = parent_v

    def read(w: int) -> list[str]:
        # a manifest this writer depends on can disappear mid-flight if
        # snapshot expiry raced us — classify it as the commit conflict
        # it is, never a raw FileNotFoundError the OCC protocol's
        # callers don't handle
        try:
            return log_read(base, w)
        except FileNotFoundError:
            raise CommitConflict(
                f"manifest v{w} was expired by a concurrent retention "
                "pass — re-read the table and retry from a live snapshot"
            ) from None

    validated_thru = parent_v  # read_set checked against commits ≤ this
    for attempt in range(max_retries + 1):
        files = [b for b in read(v) if b not in rm] + add
        if not log_claim(base, v + 1, files):
            latest = log_versions(base)[-1]
            # validate read_set against EACH intervening commit:
            # removal at any step aborts, even if a same-named file
            # exists again in a later version (ABA)
            prev = set(read(validated_thru))
            for w in range(validated_thru + 1, latest + 1):
                cur = set(read(w))
                clobbered = read_set & (prev - cur)
                if clobbered:
                    raise CommitConflict(
                        f"files {sorted(clobbered)} were removed by "
                        f"concurrent commit v{w}"
                    )
                prev = cur
            validated_thru = latest
            v = latest  # independent change: rebase and retry
            continue
        return v + 1, attempt
    raise CommitConflict(f"gave up after {max_retries} rebases")


def expire_snapshots(base: str, keep_last_n: int) -> tuple[list[int], list[str]]:
    """Drop every manifest version older than the last ``keep_last_n``
    and return ``(expired_versions, unreferenced_files)`` — the data
    files referenced ONLY by expired versions, now safe to vacuum.

    Crash-safety ordering: manifests are removed BEFORE any caller
    deletes data files, so at no point does a live manifest reference
    a missing file; a crash mid-expiry leaves extra (still-valid)
    manifests or orphaned data files — both re-derivable by a retry,
    never a corrupt snapshot. At 100 TB the retention horizon is the
    contract that bounds BOTH the log length and the storage held
    hostage by time travel."""
    versions = log_versions(base)
    if keep_last_n < 1:
        raise ValueError("must keep at least the latest snapshot")
    kept, expired = versions[-keep_last_n:], versions[:-keep_last_n]
    ref_kept: set[str] = set()
    for v in kept:
        ref_kept.update(log_read(base, v))
    ref_expired: set[str] = set()
    for v in expired:
        ref_expired.update(log_read(base, v))
    unreferenced = sorted(ref_expired - ref_kept)
    for v in expired:
        os.remove(_manifest(base, v))
    return expired, unreferenced
