"""On-disk table storage — the one module that knows the file layout.

Every lakehouse, incremental-index and streaming key keeps its state
in the same few kinds of file:

- a per-(sf_dir, tag, Spark application) fixture root under the temp
  dir (:func:`fixture_base`);
- a build-once marker written LAST, so a half-built dir is rebuilt,
  never reused (:func:`needs_build` / :func:`mark_built`);
- the manifest log: one immutable ``manifest-v{N}.txt`` per version
  listing that version's files, created only through
  :func:`atomic_claim` (:func:`log_create`, :func:`log_claim`,
  :func:`log_versions`, :func:`log_read`, :func:`read_version`);
- optimistic-concurrency commits on that log
  (:func:`commit_with_conflict_detection`, :class:`CommitConflict`)
  and snapshot retention (:func:`expire_snapshots`).

The reference's only state is its parquet sink plus a stubbed
"already processed?" check (Proof.scala:51-53, 225-234); this module
is that check grown into a table protocol.
"""

from .fixtures import fixture_base, mark_built, needs_build
from .table_log import (
    CommitConflict,
    atomic_claim,
    commit_with_conflict_detection,
    expire_snapshots,
    log_claim,
    log_create,
    log_read,
    log_versions,
    read_version,
    write_atomic,
)

__all__ = [
    "CommitConflict",
    "atomic_claim",
    "commit_with_conflict_detection",
    "expire_snapshots",
    "fixture_base",
    "log_claim",
    "log_create",
    "log_read",
    "log_versions",
    "mark_built",
    "needs_build",
    "read_version",
    "write_atomic",
]
