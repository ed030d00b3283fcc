"""Reader-safe versioned table layout for the maintained on-disk
indexes (the IVF index in operators/simsearch.py, the minhash dedup
index in operators/dedup_index.py).

THE PROBLEM: a rewrite must never leave the live directory missing —
an EXTERNAL reader (the search service an ANN index exists to serve; a
dedup batch checker) querying during the rewrite would fail with
path-not-found, and at 100 TB "quiesce all readers during every
compaction" is not an operating model.

THE LAYOUT: a table named ``t`` under index root ``path`` lives in
exactly one of

* ``{path}/t``           — generation 0. Fresh builds write here; a
                           never-compacted index has only this dir.
* ``{path}/t-v{N}``      — versioned generation ``N`` (complete iff it
                           contains Spark's ``_SUCCESS`` marker).
* ``{path}/t.version``   — the pointer file; its content is the ASCII
                           integer of the CURRENT generation.

plus the index-wide ``pair.version`` (:func:`pair_versions`) and
``_writer.lock`` (operators/lease.py); nothing else.

Compaction writes the full rewrite to generation ``N+1`` (the live data
is never touched), then atomically replaces the pointer, then GARBAGE
COLLECTS every generation other than the new one, the one that was
live immediately before the flip, and any complete orphan newer than
it (a crash's written-but-unpublished generation — a pointer-less
reader's newest-complete fallback may be resolving it, so it gets the
same one-cycle grace). That one-generation GRACE WINDOW is
the reader contract: a reader that resolved the table just before a
flip can finish its scan against the old generation; only a reader
still holding a resolution TWO compactions old can lose its files
(document/monitor compaction cadence accordingly — the same snapshot
expiry contract as any table format with time travel, e.g. Iceberg's
``expire_snapshots``). Disk cost: two generations of the table between
compactions in the normal case (one in steady state after GC of the
grace copy on the next cycle), plus one more per complete orphan a
crashed rewrite left since the last successful publish — each orphan
also lives exactly one grace cycle, so the bound is 2 + crashes-since-
last-publish, not accumulation.

The pointer flip uses Hadoop ``FileContext.rename(OVERWRITE)`` — atomic
on HDFS and local filesystems — with a delete-then-rename fallback for
filesystems whose FileContext is unavailable. Resolution does not
DEPEND on flip atomicity: a reader that catches the fallback's brief
pointer-less window falls through to "newest complete generation",
which is the generation just written (complete before any flip is
attempted). On eventually-consistent object stores the rename fallback
inherits the store's visibility caveats — same honesty as
operators/lease.py; front maintenance with a real coordinator there.

READERS NEVER WRITE: resolution (:func:`table_read_dir`) performs no
renames, ever — readers and writers resolve a table the same way. A
table found nowhere above while rename-aside debris of it sits next to
it is rejected with a plain ``IOError`` naming that dir: no writer of
this layout produces such dirs, so they are restored by hand (or the
index rebuilt), never guessed at.
"""

from __future__ import annotations

import re

from bigdataproject_spark.operators.lease import read_tiny_file

__all__ = [
    "TableMissingError",
    "complete_versions",
    "n_live_files",
    "n_parquet_files",
    "touch",
    "pair_versions",
    "pointer_version",
    "publish_cadence",
    "publish_pair",
    "publish_version",
    "table_overwrite_target",
    "table_read_dir",
    "versioned_dir",
]


class TableMissingError(IOError):
    """The table exists nowhere under the index root — no pointer
    generation, no complete versioned dir, no legacy dir."""


def versioned_dir(path: str, table: str, version: int) -> str:
    return f"{path}/{table}-v{int(version)}"


def touch(spark, filepath: str) -> None:
    """Create (or truncate) an empty marker file — completeness
    markers, phase-commit markers; the one shared implementation
    (previously duplicated in simsearch/_touch_success and
    index_stream)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(filepath)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(p, True).close()


def n_parquet_files(spark, dirpath: str) -> int:
    """Recursive ``.parquet`` part-file count under one directory,
    skipping files with ANY hidden (``_``/``.``-prefixed) path
    component below the root — i.e. what a Spark scan of the directory
    would actually read: the IVF index's paired ``_centroids`` copy
    AND part files stranded under a crashed write's
    ``_temporary/…/attempt_x/cell=…`` tree (whose immediate parent is
    NOT hidden — a parent-only check would count them and a
    file-count compaction trigger would then fire on every batch).
    The ONE counting helper for every maintenance policy and
    compaction statistic (previously triplicated across the index
    modules)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dirpath)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0
    root = p.toUri().getPath().rstrip("/")
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        fp = it.next().getPath()
        if not fp.getName().endswith(".parquet"):
            continue
        rel = fp.toUri().getPath()[len(root):].lstrip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")[:-1]):
            continue
        n += 1
    return n


def n_live_files(spark, path: str, table: str) -> int:
    """Part-file count of ``table``'s CURRENT generation under the index
    root ``path``, 0 when the table does not exist yet. The superseded
    generation stays on disk for one grace cycle; counting it too would
    double the number and trip a file-count compaction trigger every
    batch."""
    try:
        return n_parquet_files(spark, table_read_dir(spark, path, table))
    except TableMissingError:
        return 0


def _pointer_path(path: str, table: str) -> str:
    return f"{path}/{table}.version"


def _pair_path(path: str) -> str:
    return f"{path}/pair.version"


def _fs(spark, pathstr: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(pathstr)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


# Java exception classes that mean "the pointer is effectively absent":
# the file vanished between exists() and open() (a delete-then-rename
# flip fallback mid-swing), or a half-replaced LOCAL file whose CRC
# sidecar no longer matches (non-atomic flip torn mid-write). Both must
# degrade to the newest-complete fallback — any OTHER IO failure is a
# transient fault (network, permission churn) where falling back could
# silently serve a complete-but-unpublished orphan generation, so it
# propagates after one retry (r8-end driver ADVICE).
_POINTER_ABSENT_JAVA_EXCS = (
    "java.io.FileNotFoundException",
    "org.apache.hadoop.fs.ChecksumException",
)


def _java_exception_names(ex) -> set[str]:
    """Fully-qualified class names along a Py4J error's Java cause
    chain (empty for pure-Python exceptions). Hop count bounded —
    cyclic cause chains are constructible in the JVM and an unbounded
    walk would hang the reader this helper exists to protect."""
    names: set[str] = set()
    je = getattr(ex, "java_exception", None)
    for _ in range(8):
        if je is None:
            break
        try:
            names.add(je.getClass().getName())
            je = je.getCause()
        except Exception:
            break
    return names


def pointer_version(spark, path: str, table: str) -> int | None:
    """The generation the pointer file names, or None when the pointer
    is ABSENT: no file, file vanished mid-read, unparseable content (a
    torn write on a non-atomic filesystem), or a local-FS checksum
    failure on a half-replaced file — those degrade to the
    newest-complete rule because the pointer is a hint resolution must
    never DEPEND on. A genuine transient IO failure (anything else) is
    retried once and then RAISED: treating it as "no pointer" could
    flip a reader onto a complete-but-unpublished orphan generation
    that was never announced (r8-end driver ADVICE)."""
    fs, _, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(_pointer_path(path, table))
    if not fs.exists(p):
        return None
    last_io: Exception | None = None
    for _ in range(2):
        try:
            raw = read_tiny_file(fs, p, cap=64)
        except Exception as ex:
            if _java_exception_names(ex) & set(_POINTER_ABSENT_JAVA_EXCS):
                return None
            last_io = ex
            continue
        try:
            return int(raw.strip())
        except ValueError:
            return None
    assert last_io is not None
    raise last_io


def _atomic_replace(spark, filepath: str, content: str) -> None:
    """Atomically replace a tiny control file (pointer / pair) —
    ``FileContext.rename(OVERWRITE)`` where available, delete-then-
    rename fallback otherwise (the brief absent window is covered by
    resolution's fallbacks)."""
    fs, _, jvm = _fs(spark, filepath)
    Path = jvm.org.apache.hadoop.fs.Path
    tmp = f"{filepath}__tmp"
    out = fs.create(Path(tmp), True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            Path(filepath).toUri(), spark._jsc.hadoopConfiguration()
        )
        ren = jvm.org.apache.hadoop.fs.Options.Rename
        arr = spark.sparkContext._gateway.new_array(ren, 1)
        arr[0] = ren.OVERWRITE
        fc.rename(Path(tmp), Path(filepath), arr)
    except Exception:
        fs.delete(Path(filepath), False)
        if not fs.rename(Path(tmp), Path(filepath)):
            raise IOError(
                f"_atomic_replace: rename {tmp} -> {filepath} failed"
            )


def pair_versions(spark, path: str) -> dict[str, int] | None:
    """The PAIRED pointer (r10): ``{path}/pair.version`` names the
    generation of EVERY pair-managed table in one atomically-replaced
    file (lines of ``table=N``), so a multi-table rebuild publishes
    with a SINGLE flip and a reader can never observe one table's new
    generation next to another's old one (the rebuild torn-window the
    r9 contract documented as crash-safe-by-re-run is now unobservable
    by construction). Returns None when the file is absent or torn
    (resolution then degrades to the per-table pointers — the same
    hint-not-dependency philosophy as :func:`pointer_version`); a
    genuine transient IO failure propagates after one retry for the
    same reason it does there."""
    fs, _, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(_pair_path(path))
    if not fs.exists(p):
        return None
    last_io: Exception | None = None
    for _ in range(2):
        try:
            raw = read_tiny_file(fs, p, cap=512)
        except Exception as ex:
            if _java_exception_names(ex) & set(_POINTER_ABSENT_JAVA_EXCS):
                return None
            last_io = ex
            continue
        out: dict[str, int] = {}
        for line in raw.strip().splitlines():
            name, _, gen = line.strip().partition("=")
            if not name or not gen:
                return None  # torn content — degrade, never guess
            try:
                out[name] = int(gen)
            except ValueError:
                return None
        return out or None
    assert last_io is not None
    raise last_io


def _write_pair(spark, path: str, versions: dict[str, int]) -> None:
    body = "\n".join(f"{t}={int(v)}" for t, v in sorted(versions.items()))
    _atomic_replace(spark, _pair_path(path), body)


def publish_pair(
    spark, path: str, tables: dict[str, tuple[int, str | None]]
) -> None:
    """Publish SEVERAL tables' new generations as ONE atomic flip:
    ``tables`` maps table name -> (version_to_publish, prev_live_dir)
    — the (directory, version) pairs :func:`table_overwrite_target`
    returned, all directories fully written first. The pair file is
    replaced once, naming every table's new generation (entries for
    tables not in this publish are carried forward), and only then are
    the per-table pointers flipped and grace-window GC run via
    :func:`publish_version` — which sees the pair already naming the
    new generations and leaves it untouched, so there is exactly ONE
    observable transition. Crash matrix: before the pair flip nothing
    is published (the written generations are complete orphans with
    the standard one-cycle grace); after it, readers resolve the new
    consistent pair while stale per-table pointers affect only
    publish_cadence until the flips complete on re-run."""
    if not tables:
        return
    merged = pair_versions(spark, path) or {}
    for t, (v, _) in tables.items():
        merged[t] = int(v)
    _write_pair(spark, path, merged)
    for t, (v, prev) in tables.items():
        publish_version(spark, path, t, v, prev)


def publish_cadence(spark, path: str, table: str) -> dict:
    """Monitoring view of the table's publish (compaction) cadence — the
    operator-facing handle on the one-generation GRACE WINDOW contract
    (module docstring: a reader holding a single resolution across TWO
    publishes can lose files; ops must keep publish cadence SLOWER than
    their slowest reader, and this is the number to alarm on).

    Returns ``{generation, publish_count, last_publish_age_seconds}``:

    * ``generation`` — the pointer's current generation integer, or
      ``None`` for a never-compacted (legacy / generation-0) table.
    * ``publish_count`` — the generation integer as an UPPER BOUND on
      publishes so far (0 for legacy): every publish advances the
      pointer by at least one, but a crashed rewrite consumes a
      generation number without publishing (``table_overwrite_target``
      skips past orphans), so the bound over-counts by the number of
      crashes. Safe direction for the grace-window alarm — comparing
      the value across two polls can over-alarm, never under-alarm.
    * ``last_publish_age_seconds`` — wall-clock age of the pointer
      file (its filesystem mtime; every publish rewrites it), or
      ``None`` for legacy. An alarm of the form ``age < slowest
      reader's scan time`` catches a cadence that outruns readers.
      CAVEAT (r9 review): the age is driver clock minus STORAGE clock
      (HDFS/S3 stamp mtime with their own time), so cross-clock skew
      distorts it — a driver behind storage clamps to 0 (spurious
      alarms), one ahead inflates the age (masked alarms). Where
      clocks aren't trusted, alarm on DELTAS of ``generation`` across
      your own polls instead — pure integers, skew-immune; the age is
      the convenience signal for same-clock deployments.

    Cost: one exists + one tiny-file read + one getFileStatus — safe in
    a hot drift-poll loop."""
    import time

    fs, _, jvm = _fs(spark, path)
    gen = pointer_version(spark, path, table)
    if gen is None:
        return {
            "generation": None,
            "publish_count": 0,
            "last_publish_age_seconds": None,
        }
    p = jvm.org.apache.hadoop.fs.Path(_pointer_path(path, table))
    try:
        mtime_ms = fs.getFileStatus(p).getModificationTime()
        age = max(0.0, time.time() - mtime_ms / 1000.0)
    except Exception:
        # pointer vanished between the read and the stat (a flip
        # fallback mid-swing) — cadence unknown this instant, not an
        # error worth failing a monitoring poll over
        age = None
    return {
        "generation": int(gen),
        "publish_count": int(gen),
        "last_publish_age_seconds": age,
    }


def complete_versions(spark, path: str, table: str) -> list[int]:
    """Sorted generation numbers whose directory is COMPLETE (contains
    ``_SUCCESS``). An incomplete dir is a crashed write — never a read
    target, and the next writer overwrites it."""
    fs, root, jvm = _fs(spark, path)
    if not fs.exists(root):
        return []
    Path = jvm.org.apache.hadoop.fs.Path
    pat = re.compile(re.escape(table) + r"-v(\d+)$")
    out = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        m = pat.match(st.getPath().getName())
        if m and fs.exists(Path(f"{st.getPath().toString()}/_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def table_read_dir(spark, path: str, table: str) -> str:
    """Resolve the directory to read or append for logical ``table`` —
    pointer generation, else newest complete generation (the mid-flip
    fallback), else the legacy dir. NEVER mutates the filesystem.
    Raises :class:`TableMissingError` when nothing exists, and a plain
    ``IOError`` when the table is missing but rename-aside debris of it
    is present (not ``TableMissingError``: callers treat that as "build
    the table fresh", which over debris would silently discard rows).
    A PAIR pointer (:func:`pair_versions`) naming the table outranks
    the per-table pointer: it is the cross-table-consistent
    announcement, and during a paired publish the per-table pointers
    lag it."""
    fs, _, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    pv = pair_versions(spark, path)
    if pv is not None and table in pv:
        d = versioned_dir(path, table, pv[table])
        if fs.exists(Path(d)):
            return d
    ptr = pointer_version(spark, path, table)
    if ptr is not None:
        d = versioned_dir(path, table, ptr)
        if fs.exists(Path(d)):
            return d
    vs = complete_versions(spark, path, table)
    if vs:
        return versioned_dir(path, table, vs[-1])
    legacy = f"{path}/{table}"
    if fs.exists(Path(legacy)):
        return legacy
    debris = [
        d for d in (f"{legacy}__compacting", f"{legacy}__old")
        if fs.exists(Path(d))
    ]
    if debris:
        raise IOError(
            f"{legacy} missing; found {', '.join(debris)}, which no writer "
            f"of this layout produces — restore the table by hand or "
            f"rebuild the index"
        )
    raise TableMissingError(f"{legacy} missing")


def table_overwrite_target(
    spark, path: str, table: str, *, force_version: bool = False
) -> tuple[str, int | None]:
    """Where a FULL REWRITE of the table should write, as
    ``(directory, version_to_publish)``.

    * Never-versioned table (fresh index, or one that has not been
      compacted): ``({path}/{table}, None)`` — the write goes to the
      generation-0 dir in place and no publish is needed. With
      ``force_version=True`` (compaction — it must never rewrite the
      directory it is reading) the first versioned generation is
      returned instead.
    * Versioned table: the NEXT generation after both the pointer and
      the newest complete dir (a complete-but-unpublished orphan from a
      crash is skipped, not overwritten — a pointer-less reader could
      be resolving it right now); the caller writes, then calls
      :func:`publish_version`.
    """
    ptr = pointer_version(spark, path, table) or 0
    vs = complete_versions(spark, path, table)
    cur = max(ptr, vs[-1] if vs else 0)
    if cur == 0 and not force_version:
        return f"{path}/{table}", None
    return versioned_dir(path, table, cur + 1), cur + 1


def publish_version(
    spark, path: str, table: str, version: int, prev_live: str | None
) -> None:
    """Flip the pointer to ``version`` (atomic ``FileContext.rename``
    with OVERWRITE where available; delete-then-rename fallback — the
    pointer-less window is covered by read resolution's
    newest-complete rule), then GC every generation except the new
    one, ``prev_live`` (the one-generation grace window readers get —
    see module docstring), and any COMPLETE orphan generation between
    them (same grace: a pointer-less reader may be resolving it).
    ``prev_live`` may be the legacy dir, a versioned dir, or None
    (fresh table)."""
    fs, _, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    # the FIRST publish of this table? Read before flipping: when no
    # pointer existed yet, the legacy dir was resolvable until moments
    # ago (a crashed earlier rewrite may have left a complete
    # generation that outranked it for newest-complete readers, but a
    # reader that resolved legacy BEFORE that crash landed can still
    # be scanning) — grant it the standard one-cycle grace instead of
    # deleting it on the same publish that first supersedes it.
    first_publish = pointer_version(spark, path, table) is None
    # keep a pair-managed table's PAIR entry in sync BEFORE the
    # per-table flip (the pair outranks the pointer in resolution, so
    # flipping it first means no crash point ever leaves readers on a
    # generation this publish is about to GC past its grace cycle)
    pv = pair_versions(spark, path)
    if pv is not None and table in pv and pv[table] != int(version):
        pv[table] = int(version)
        _write_pair(spark, path, pv)
    _atomic_replace(spark, _pointer_path(path, table), str(int(version)))
    # GC: everything but the new generation and the grace copy. All
    # generation dirs are direct children of the index root, so keep
    # membership is by basename. A COMPLETE generation newer than
    # prev_live — a crash's complete-but-unpublished orphan — also
    # gets one grace cycle: table_overwrite_target skips orphans
    # because a pointer-less reader's newest-complete fallback may be
    # resolving one right now, and deleting it here with zero grace
    # would break exactly that reader (it falls out of the newer-than
    # window at the NEXT publish, so orphans never accumulate past one
    # cycle). Incomplete dirs (crashed writes, never read targets) are
    # deleted regardless.
    keep = {versioned_dir(path, table, version).rsplit("/", 1)[-1]}
    if first_publish:
        keep.add(table)  # legacy dir: one grace cycle from first publish
    prev_ver = 0
    if prev_live is not None:
        prev_name = prev_live.rstrip("/").rsplit("/", 1)[-1]
        keep.add(prev_name)
        m = re.match(re.escape(table) + r"-v(\d+)$", prev_name)
        if m:
            prev_ver = int(m.group(1))
    for v in complete_versions(spark, path, table):
        if prev_ver < v < int(version):
            keep.add(versioned_dir(path, table, v).rsplit("/", 1)[-1])
    pat = re.compile(re.escape(table) + r"-v(\d+)$")
    for st in fs.listStatus(Path(path)):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if (pat.match(name) or name == table) and name not in keep:
            fs.delete(st.getPath(), True)
