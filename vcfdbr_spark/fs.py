"""Hadoop-FileSystem helpers for driver-side side-state.

Checkpoint manifests, progress files and per-batch partition
directories must live NEXT TO the store output — which on a real
cluster is ``hdfs://`` / ``s3a://``, not the driver's local disk.
Python's ``open`` / ``glob`` / ``shutil`` silently read and write the
driver's filesystem instead, so every side-state touch goes through
the JVM Hadoop FS API here (scheme-dispatched: the same code works on
``file://``, ``hdfs://`` and object stores).

These calls are all driver-side, O(1)-ish metadata operations on tiny
files or directory listings — never data-plane I/O.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursive delete, no-op when absent (idempotent re-runs)."""
    fs, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def makedirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.mkdirs(p)


def list_subdirs(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Full paths of immediate subdirectories whose NAME starts with
    ``prefix`` (e.g. ``batch=``) — the FS-portable ``glob``.

    Ordering: when every name carries a trailing ``=N`` integer suffix
    (hive-style ``batch=N`` dirs), sorted NUMERICALLY on it — a plain
    string sort puts ``batch=10`` before ``batch=2``, which silently
    mis-orders any future order-sensitive caller past 9 batches;
    otherwise plain lexicographic."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        if st.isDirectory() and st.getPath().getName().startswith(prefix):
            out.append(st.getPath().toString())

    def _key(full: str):
        name = full.rsplit("/", 1)[-1]
        stem, eq, tail = name.rpartition("=")
        if eq and tail.isdigit():
            return (0, stem, int(tail))
        return (1, name, 0)

    return sorted(out, key=_key)


def list_files(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Full paths of immediate plain FILES under ``path`` whose name
    starts with ``prefix`` (e.g. ``part-``) — for picking the data
    part out of a ``coalesce(1)`` write.  Lexicographic order."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().startswith(prefix)
    )


def set_mtime(spark: SparkSession, path: str, mtime_sec: float) -> None:
    """Set a file's modification time (seconds) through the Hadoop FS
    — the portable ``os.utime`` for pinning a file-stream source's
    oldest-first consumption order on any scheme.

    The time is read back: some filesystems (S3A) accept ``setTimes``
    and ignore it, which would silently leave the order unpinned, so a
    time that did not take raises ``OSError`` naming the filesystem.
    """
    fs, p = _fs(spark, path)
    want = int(mtime_sec * 1000)
    fs.setTimes(p, want, -1)
    got = fs.getFileStatus(p).getModificationTime()
    if abs(got - want) >= 1000:  # tolerate whole-second timestamps
        raise OSError(
            f"the {fs.getScheme()}:// filesystem ignored setTimes on "
            f"{path} (modification time reads {got} ms, set {want} ms) "
            f"— stage files whose order must be pinned on a filesystem "
            f"that keeps modification times (e.g. spark.vcfdbr.scratch.dir "
            f"on hdfs://)"
        )


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh work directory for a self-contained pipeline run
    (stream evidence queries: sources, checkpoints, outputs).

    Rooted at ``spark.vcfdbr.scratch.dir`` when set — on a real
    cluster that must be a shared filesystem (``hdfs://``/``s3a://``)
    because executors read the sources written under it.  Unset, a
    ``local`` master gets a driver-local temp dir (driver and executors
    share the host), and any other master raises ``ValueError`` naming
    the conf: executors could not read a driver-local path.  Remove
    with :func:`delete_dir` (scheme-portable), never ``shutil.rmtree``."""
    import uuid

    base = spark.conf.get("spark.vcfdbr.scratch.dir", None)
    if base:
        path = f"{base.rstrip('/')}/{prefix}-{uuid.uuid4().hex}"
        makedirs(spark, path)
        return path
    master = spark.conf.get("spark.master", "local")
    if not master.startswith("local"):
        raise ValueError(
            f"master {master!r} is not local: set spark.vcfdbr.scratch.dir "
            f"to a directory every executor can read (hdfs://, s3a://); "
            f"a driver-local temp dir is unreadable on other hosts"
        )
    import tempfile

    return tempfile.mkdtemp(prefix=f"{prefix}-")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory/file rename; raises on failure (Hadoop reports
    failure by returning false).  On HDFS a rename is atomic — the
    building block of :func:`swap_dir`."""
    fs, p_src = _fs(spark, src)
    p_dst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(p_src, p_dst):
        raise IOError(f"rename {src} -> {dst} failed")


def heal_swap(spark: SparkSession, path: str) -> bool:
    """Undo what a crash inside :func:`swap_dir` left at ``path``:
    only ``<path>.old`` present → rename it back; then delete ``.old``
    and ``.tmp`` debris.  Returns whether ``path`` exists after."""
    path = path.rstrip("/")
    old = f"{path}.old"
    live = exists(spark, path)
    if live:
        delete_dir(spark, old)
    elif exists(spark, old):
        rename(spark, old, path)
        live = True
    delete_dir(spark, f"{path}.tmp")
    return live


def swapped_dir(spark: SparkSession, path: str) -> str | None:
    """The directory a reader of swapped ``path`` should read:
    ``path``, or ``<path>.old`` while a :func:`swap_dir` is half done,
    or ``None`` when neither exists."""
    path = path.rstrip("/")
    for cand in (path, f"{path}.old"):
        if exists(spark, cand):
            return cand
    return None


def swap_dir(spark: SparkSession, path: str, write):
    """Replace directory ``path`` with the one ``write(tmp)`` builds,
    so no reader sees a half-written layout; returns what ``write``
    returned.  The one rewrite-in-place protocol of the package (band
    index folds, IVF reindex, store and stream-table compaction).

    Steps: heal ``path`` (:func:`heal_swap`; first, because ``write``
    may read ``path``), ``write(<path>.tmp)``, rename the live dir (if
    any) to ``<path>.old``, rename ``.tmp`` to ``path``, delete
    ``.old``.  A crash leaves one of three states, each healed by the
    next :func:`heal_swap`:

    - ``.tmp`` debris beside the untouched live dir (died in
      ``write`` or before the first rename) → deleted;
    - only ``.old`` (died between the renames) → renamed back.
      Meanwhile ``path`` is absent: a plain read fails loudly, never
      silently wrong, and :func:`swapped_dir` returns ``.old``;
    - ``.old`` debris beside the new live dir → deleted.

    Each rename is atomic on HDFS and the local filesystem.  Object
    stores without atomic rename (S3A renames by copy-then-delete) do
    not give this guarantee: a crash mid-rename can leave a partial
    directory there."""
    path = path.rstrip("/")
    tmp, old = f"{path}.tmp", f"{path}.old"
    live = heal_swap(spark, path)
    out = write(tmp)
    if live:
        rename(spark, path, old)
    rename(spark, tmp, path)
    if live:
        delete_dir(spark, old)
    return out


def read_text(spark: SparkSession, path: str) -> str | None:
    """Small-file read (progress manifests); None when absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Atomic-ish small-file write: create ``path.tmp`` then rename
    over the target — readers never observe a half-written manifest.
    (HDFS rename is atomic; object stores approximate it, which is
    fine for a single-writer progress file.)

    Hadoop ``FileSystem.delete``/``rename`` report failure by
    RETURNING FALSE rather than throwing; both results are checked
    and raised here — a silently dropped rename would lose the
    progress manifest and restart a resumable build from scratch.
    The delete+rename pair does leave a no-manifest window on
    filesystems without overwriting rename; readers treat an absent
    manifest as "fresh start", so a crash inside the window costs a
    re-run of completed work, never corruption."""
    fs, p = _fs(spark, path)
    jvm = spark._jvm
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p) and not fs.delete(p, False):
        raise IOError(f"could not delete {path} before manifest rename")
    if not fs.rename(tmp, p):
        raise IOError(
            f"rename {path}.tmp -> {path} failed (Hadoop rename "
            f"returned false); manifest write aborted"
        )
