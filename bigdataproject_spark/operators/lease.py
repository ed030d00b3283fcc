"""Best-effort single-writer lease for the maintained on-disk indexes.

The IVF index (operators/simsearch.py) and the minhash dedup index
(operators/dedup_index.py) both assume ONE writer: appends are
idempotent only because the store is unchanged between a crash and its
replay, and compaction's generation flip has a window in which a
concurrent append's delta — written between the live-dir snapshot and
the flip — would be silently dropped. Inside a streaming foreachBatch
that single-writer assumption holds by construction; NOTHING stops a
second driver from appending during another driver's compaction. This
module makes that failure loud instead of silent.

Mechanism: a lease file ``{index_path}/_writer.lock`` whose CONTENT is
the owner string. Compaction acquires it (atomic create-fails-if-exists
via Hadoop ``FileSystem.create(path, overwrite=false)``) and releases
it when done; appends assert it is absent — or held by THEMSELVES —
before writing. The owner string is the re-entry key: a writer that
crashed mid-compaction finds its OWN stale lease on restart and steals
it back (pass a restart-stable owner, e.g. the stream's checkpoint
path; the default ``applicationId`` changes per restart and therefore
never self-steals).

HONEST LIMITS — this is a best-effort guard, not a lock service:

* There is a check-then-write window: an append that passed
  ``assert_unleased`` can still be racing a compaction that acquires
  the lease a millisecond later. The guard catches the operational
  mistake (two maintenance drivers pointed at one index), not a
  deliberate photo-finish race.
* Atomicity of create-fails-if-exists holds on local filesystems and
  HDFS. On eventually-consistent object stores the create is neither
  atomic nor immediately visible — two writers can both "win". Run
  maintenance for one index from one scheduler there, or front it
  with a real lock service.
* Same-owner stealing assumes owner strings are unique per logical
  writer. Two drivers sharing an owner string share (and steal) one
  lease — that is the configuration error this module cannot see.
"""

from __future__ import annotations

__all__ = [
    "LeaseHeldError",
    "acquire_lease",
    "assert_unleased",
    "read_tiny_file",
    "release_lease",
]

_LEASE_FILE = "_writer.lock"


class LeaseHeldError(RuntimeError):
    """Another writer holds the index's maintenance lease."""


def _fs_and_path(spark, index_path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{_LEASE_FILE}")
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def read_tiny_file(fs, p, cap: int = 512) -> str:
    """Content of a tiny control file (a lease owner string, a
    generation pointer — operators/versioned.py shares this helper).
    Byte-at-a-time over py4j is fine at this size and works on any
    Hadoop FS."""
    stream = fs.open(p)
    try:
        out = bytearray()
        for _ in range(cap):
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8", errors="replace")
    finally:
        stream.close()



def lease_owner(spark, index_path: str) -> str | None:
    """Current lease owner string, or None when unleased."""
    fs, p, _ = _fs_and_path(spark, index_path)
    if not fs.exists(p):
        return None
    return read_tiny_file(fs, p)


def acquire_lease(spark, index_path: str, owner: str) -> None:
    """Take the index's writer lease, stealing a stale lease left by a
    previous incarnation of the SAME owner (crash re-entry). Raises
    :class:`LeaseHeldError` when a different owner holds it."""
    if not owner:
        raise ValueError("acquire_lease: owner must be a non-empty string")
    fs, p, _ = _fs_and_path(spark, index_path)
    if fs.exists(p):
        held_by = read_tiny_file(fs, p)
        if held_by != owner:
            raise LeaseHeldError(
                f"index {index_path} is leased by {held_by!r} "
                f"(this writer: {owner!r}); if that writer is dead, "
                f"delete {index_path}/{_LEASE_FILE} to break the lease"
            )
        fs.delete(p, False)  # own stale lease from a crashed run
    try:
        out = fs.create(p, False)  # atomic create-fails-if-exists
    except Exception as ex:  # racing writer won the create
        raise LeaseHeldError(
            f"index {index_path}: lease create lost a race ({ex})"
        ) from ex
    try:
        out.write(bytearray(owner.encode("utf-8")))
    finally:
        out.close()


def release_lease(spark, index_path: str, owner: str) -> None:
    """Drop the lease if WE hold it. A missing lease is a no-op (the
    release after a heal-only run); a foreign owner raises — losing
    one's own lease means two writers shared an owner string or
    someone broke the lease by hand, and silence would hide it."""
    fs, p, _ = _fs_and_path(spark, index_path)
    if not fs.exists(p):
        return
    held_by = read_tiny_file(fs, p)
    if held_by != owner:
        raise LeaseHeldError(
            f"index {index_path}: lease now held by {held_by!r}, "
            f"not this writer ({owner!r}) — refusing to release it"
        )
    fs.delete(p, False)


def assert_unleased(spark, index_path: str, owner: str) -> None:
    """Raise :class:`LeaseHeldError` when a DIFFERENT owner holds the
    lease (a compaction in flight). One's own lease — stale from a
    crashed compaction of the same logical writer — passes: the next
    compaction steals it back, and blocking the append would wedge a
    restarted stream on its own debris."""
    fs, p, _ = _fs_and_path(spark, index_path)
    if not fs.exists(p):
        return
    held_by = read_tiny_file(fs, p)
    if held_by != owner:
        raise LeaseHeldError(
            f"index {index_path} is being compacted by {held_by!r}; "
            f"appending now could be silently dropped by its swap — "
            f"retry after the compaction releases the lease"
        )
