"""Hadoop FileSystem helpers and the engine's one directory-commit protocol.

Every sink/cache in the engine does its partition bookkeeping
(existence checks, version listing, commits, bucket drops) through
THIS module, which routes to Hadoop's ``FileSystem`` API via the
session JVM — so a target path may be ``file:/...``, ``hdfs://...``,
``s3a://...`` or any other registered scheme and the code is
identical. All calls are driver-side METADATA operations
(list/stat/rename) — O(entries) namenode/object-store RPCs, never data
movement. The text read/write helpers exist for small JSON sidecars
only.

Commit protocol
---------------
How a directory becomes visible is decided here and nowhere else: no
other module renames. It is the reference's one durability idea —
write the new cache, then swap it in atomically with a version stamp
(src/services/dataManager.ts:68-77).

``rename`` is atomic on HDFS but a non-atomic COPY on raw object
stores (S3A without a table format), so a crash mid-commit can leave a
torn destination that looks real to a lister. Every commit therefore
ends with the ``{dir}/_COMMITTED`` marker, written LAST, and readers
treat a directory without it as garbage. (Spark's own ``_SUCCESS`` is
written into the staging dir before the rename, travels WITH the copy
and can be present in a torn destination — it cannot be the marker.)
A write-once dir (a per-batch partial) needs nothing more: write it,
then mark it. Every other commit takes one of four shapes:

- **Versioned commit** (SnapshotCache, LandingJob, VerdictCache):
  :func:`next_version` numbers the new ``v{n}`` one past every version
  dir on disk, torn ones included, so a number is never reused. The
  writer stages the data in a sibling dir, :func:`commit` renames it
  to ``v{n}`` (raising, with the staged data left in place, if the
  rename fails) and stamps the marker, and :func:`sweep_versions` then
  keeps the newest ``keep`` COMMITTED versions and deletes every other
  ``v{n}`` — a torn dir never takes a slot in the keep-window. Readers
  resolve with :func:`newest_committed`.
- **Promote a built dir** (the build-artifact store,
  ``artifacts.streamed_artifact``): build in a process-unique
  scratch dir, :func:`commit` the servable subdir to the deterministic
  artifact path; a builder that loses the promote race serves the
  winner. A committed artifact is never rewritten.
- **Two-rename swap** (``sources.maintenance`` compaction/scrub,
  ``SignatureIndex.scrub``): a rewrite of a dir readers address by
  name. :func:`swap_in` marks the staged copy, moves the original
  aside, moves the copy in and drops the original;
  :func:`repair_swap` finishes or rolls back each crash window.
  Generic filesystems have no atomic directory swap, so the path is
  briefly absent: run these in a maintenance window.
- **Manifest fold** (``SignatureIndex.compact``,
  ``RollupMaintainer.compact``): fold many committed input dirs into
  one ``base``. :func:`install_fold` writes the ``_FOLDED`` manifest
  into the staged fold, marks it, deletes the listed inputs and
  renames the fold to ``base``. That install path IS the heal path,
  :func:`heal_fold`: a crash after the mark is finished on the next
  read (no input is ever served next to the fold that contains it),
  a crash before it sweeps the staging.

Directory names (``v{n}``, ``_staging_v{n}``, dot-prefixed staging and
old dirs) are a data format, chosen by each caller and passed here as
full paths; roots written by older code are read and healed as-is.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) pair for ``path_str``'s scheme."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_path(spark, path_str)
    return fs.exists(path)


def is_dir(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_path(spark, path_str)
    return fs.exists(path) and fs.getFileStatus(path).isDirectory()


def list_names(spark: SparkSession, path_str: str, dirs_only: bool = False) -> list[str]:
    """Child entry basenames of a directory (empty if absent)."""
    fs, path = _fs_path(spark, path_str)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        if dirs_only and not st.isDirectory():
            continue
        out.append(st.getPath().getName())
    return out


def delete(spark: SparkSession, path_str: str, recursive: bool = True) -> bool:
    """Remove a file/dir tree; False if it did not exist."""
    fs, path = _fs_path(spark, path_str)
    if not fs.exists(path):
        return False
    return fs.delete(path, recursive)


def rename(spark: SparkSession, src_str: str, dst_str: str) -> bool:
    """Same-filesystem rename — the atomic-commit primitive on HDFS
    (and a fast metadata op on file:). On S3 rename is a copy; a real
    deployment there fronts the layout with a Delta/Iceberg log — the
    call-site semantics (commit version n+1) are unchanged. Used only
    by the commit primitives below."""
    fs, src = _fs_path(spark, src_str)
    _, dst = _fs_path(spark, dst_str)
    return fs.rename(src, dst)


def mkdirs(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_path(spark, path_str)
    return fs.mkdirs(path)


def file_size(spark: SparkSession, path_str: str) -> int:
    fs, path = _fs_path(spark, path_str)
    return fs.getFileStatus(path).getLen()


def stat_token(spark: SparkSession, path_str: str) -> str:
    """Change-detection token for a file or directory (``absent`` if
    missing) — regenerating a source table changes its token, which
    cache keys fold in so a stale derived artifact is never served
    against refreshed data.

    Files: ``mtime:len``. Directories: an md5 over the child entries'
    (name, mtime, len) triples — NOT the directory's own status,
    because object stores (s3a) report 0:0 for "directories" and even
    local directory mtime only tracks entry add/remove. One listStatus
    RPC; parquet table dirs hold a bounded number of part files."""
    import hashlib

    fs, path = _fs_path(spark, path_str)
    if not fs.exists(path):
        return "absent"
    st = fs.getFileStatus(path)
    if not st.isDirectory():
        return f"{st.getModificationTime()}:{st.getLen()}"
    entries = sorted(
        (c.getPath().getName(), c.getModificationTime(), c.getLen())
        for c in fs.listStatus(path)
    )  # listStatus order is not guaranteed — sort for a stable token
    h = hashlib.md5()
    for name, mtime, ln in entries:
        h.update(f"{name}:{mtime}:{ln};".encode())
    return f"dir:{h.hexdigest()[:16]}"


def read_text(spark: SparkSession, path_str: str) -> str | None:
    """Small-sidecar read (JSON metadata, a few hundred bytes); None if
    absent. Not for data files."""
    fs, path = _fs_path(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        # py4j passes byte[] ARGUMENTS by value, so out-param reads like
        # readFully(pos, buf) never reach Python — but byte[] RETURN
        # values auto-convert to Python bytes, so read via IOUtils.
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, path_str: str, content: str) -> None:
    """Small-sidecar write (overwrite). Not for data files."""
    fs, path = _fs_path(spark, path_str)
    out = fs.create(path, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


# ---- commit protocol (see the module docstring) ----------------------------

COMMIT_MARKER = "_COMMITTED"


def mark_committed(spark: SparkSession, dir_str: str) -> None:
    """Stamp ``dir_str`` as fully committed (write this LAST)."""
    write_text(spark, f"{dir_str}/{COMMIT_MARKER}", "1")


def is_committed(spark: SparkSession, dir_str: str) -> bool:
    """True iff the directory carries the commit marker."""
    return exists(spark, f"{dir_str}/{COMMIT_MARKER}")


def list_versions(
    spark: SparkSession, root: str, prefix: str = "v"
) -> list[tuple[int, str]]:
    """All ``{prefix}N`` version directories under ``root`` as
    (number, name) pairs sorted by number — committed or not. The
    single source for version enumeration, so padded (``v000001``) and
    unpadded (``v1``) naming schemes behave identically."""
    out = []
    for name in list_names(spark, root.rstrip("/"), dirs_only=True):
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            out.append((int(name[len(prefix):]), name))
    return sorted(out)


def newest_committed(
    spark: SparkSession,
    root: str,
    preferred_name: str | None = None,
    prefix: str = "v",
) -> str | None:
    """Resolve the current committed version directory (full path):
    the sidecar-preferred name if it carries ``_COMMITTED``, else the
    highest-numbered committed version, else None. The shared reader
    half of the commit protocol — a torn directory from a crashed
    commit is never returned."""
    r = root.rstrip("/")
    if preferred_name is not None:
        candidate = f"{r}/{preferred_name}"
        if is_committed(spark, candidate):
            return candidate
    for _, name in reversed(list_versions(spark, r, prefix)):
        candidate = f"{r}/{name}"
        if is_committed(spark, candidate):
            return candidate
    return None


def committed_versions(
    spark: SparkSession, root: str, prefix: str = "v"
) -> list[tuple[int, str]]:
    """The marker-stamped subset of :func:`list_versions`."""
    r = root.rstrip("/")
    return [
        (n, name)
        for n, name in list_versions(spark, r, prefix)
        if is_committed(spark, f"{r}/{name}")
    ]


def next_version(spark: SparkSession, root: str) -> int:
    """One past the highest ``v{n}`` directory under ``root``,
    committed or torn: a torn dir still holds its number, and counting
    only committed (or surviving) versions would reuse it."""
    return max((n for n, _ in list_versions(spark, root)), default=0) + 1


def commit(spark: SparkSession, staged: str, final: str) -> None:
    """Rename the fully written ``staged`` dir to ``final``, then stamp
    ``final`` committed. A failed rename raises and leaves the staged
    data in place: on a racy or transient failure it may be the only
    copy of what was just produced."""
    if not rename(spark, staged, final):
        raise IOError(
            f"commit rename failed: {staged} -> {final} (staged data left in place)"
        )
    mark_committed(spark, final)


def sweep_versions(spark: SparkSession, root: str, keep: int) -> None:
    """Keep the newest ``keep`` COMMITTED ``v{n}`` dirs under ``root``
    and delete every other one, torn dirs included. Counting torn dirs
    toward the window would evict a real prior version while keeping
    garbage. Callers must ensure no live query still reads a dropped
    version (the Delta VACUUM contract)."""
    r = root.rstrip("/")
    versions = list_versions(spark, r)
    committed = [name for _, name in versions if is_committed(spark, f"{r}/{name}")]
    kept = set(committed[max(len(committed) - keep, 0):])
    for _, name in versions:
        if name not in kept:
            delete(spark, f"{r}/{name}")


def swap_in(spark: SparkSession, p: str, staging: str, old: str) -> None:
    """Install the fully staged rewrite ``staging`` at ``p`` via the
    two-rename swap: mark staging committed, move the original aside
    to ``old``, move staging in, drop the original. The marker is what
    tells :func:`repair_swap` the staged copy is whole. Hadoop rename
    returns False instead of raising; every failure fails CLOSED with
    the original reachable (directly or via :func:`repair_swap`)."""
    mark_committed(spark, staging)
    delete(spark, old)
    if not rename(spark, p, old):
        delete(spark, staging)
        raise RuntimeError(f"swap aborted: could not move {p} aside")
    if not rename(spark, staging, p):
        restored = rename(spark, old, p)
        raise RuntimeError(
            f"swap failed installing the staged copy at {p}; "
            + ("original restored" if restored
               else f"original preserved at {old} (repair_swap heals it)")
        )
    delete(spark, old)


def repair_swap(spark: SparkSession, p: str, staging: str, old: str) -> str:
    """Heal the crash windows of an interrupted :func:`swap_in`:

    - ``p`` is the hole and staging committed: finish the swap;
    - ``p`` is the hole and only ``old`` is left: roll it back;
    - otherwise sweep staging/old leftovers.

    Returns one of 'clean', 'finished_swap', 'rolled_back', 'swept'."""
    if not exists(spark, p):
        if is_committed(spark, staging):
            rename(spark, staging, p)
            delete(spark, old)
            return "finished_swap"
        if exists(spark, old):
            rename(spark, old, p)
            delete(spark, staging)
            return "rolled_back"
    swept = False
    for leftover in (staging, old):
        swept = delete(spark, leftover) or swept
    return "swept" if swept else "clean"


FOLD_MANIFEST = "_FOLDED"


def install_fold(spark: SparkSession, staging: str, base: str, manifest: str) -> None:
    """Install the fully written fold ``staging`` as ``base``.
    ``manifest`` names the folded input dirs (siblings of ``base``), one
    per line; blank lines and ``#`` lines are not names, and a name
    already gone is skipped. It is written BEFORE the marker: a committed
    fold must always know its inputs, or a crash mid-deletion would
    leave some alive next to the installed base — served twice."""
    write_text(spark, f"{staging}/{FOLD_MANIFEST}", manifest)
    mark_committed(spark, staging)
    heal_fold(spark, staging, base)


def heal_fold(spark: SparkSession, staging: str, base: str) -> None:
    """Finish or roll back a fold left at ``staging``: a committed fold
    deletes the manifest-listed inputs still present, replaces ``base``
    and takes its place; an uncommitted one is swept (the inputs still
    serve). Idempotent, so a crash anywhere heals on the next call."""
    root = base.rsplit("/", 1)[0]
    manifest = read_text(spark, f"{staging}/{FOLD_MANIFEST}")
    if manifest is not None and is_committed(spark, staging):
        for name in manifest.split("\n"):
            if name and not name.startswith("#"):
                delete(spark, f"{root}/{name}")
        delete(spark, base)
        rename(spark, staging, base)
    else:
        delete(spark, staging)


def adopt_unmarked_versions(
    spark: SparkSession, root: str, prefix: str = "v"
) -> list[str]:
    """ONE-TIME migration for version roots written BEFORE the commit-
    marker protocol: stamp ``_COMMITTED`` into every ``{prefix}N``
    subdirectory that lacks it, making legacy snapshots visible to the
    marker-requiring readers (SnapshotCache/VerdictCache/LandingJob)
    instead of silently invisible — and, worse, vacuumable as torn.

    Run exactly once, on a root KNOWN to predate the protocol, before
    the first new-style read or vacuum. Do NOT run routinely: on a
    post-protocol root an unmarked dir means a crashed commit, and
    adopting it would publish a version that was never committed.
    Returns the adopted directory paths.
    """
    adopted = []
    r = root.rstrip("/")
    for _, name in list_versions(spark, r, prefix):
        d = f"{r}/{name}"
        if not is_committed(spark, d):
            mark_committed(spark, d)
            adopted.append(d)
    return adopted


def byte_string_as_bytes(spark: SparkSession, s: str) -> int:
    """Parse a Spark size string ('128MB', '134217728b') to bytes."""
    try:
        return int(s)
    except ValueError:
        return int(spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(s))
