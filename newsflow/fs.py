"""Filesystem helpers that work on every Hadoop-supported store.

Python's ``os.path`` only sees the local filesystem: ``os.path.exists``
returns ``False`` for any ``s3a://`` / ``hdfs://`` URI, so a guard like
``if not os.path.exists(path): return`` silently turns a takedown into
a no-op the moment the lake moves off local disk — the exact
compliance hazard ADVICE r9/r10 flagged (a deletion that reports
``{"deleted": 0}`` instead of deleting). Every persisted-lake existence
check in the engine goes through `fs_exists` instead, which resolves
the path's own Hadoop ``FileSystem`` (file://, s3a://, hdfs://, abfs://
alike) from the live Spark Hadoop configuration — the same API the
partition-compaction and marker-maintenance paths already use.

These wrap the JVM handles py4j exposes; each call is one JVM
round-trip, used only on control-flow guards (never per row).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path) JVM handles for ``path``, resolved against the
    session's Hadoop configuration (so s3a credentials/endpoints set on
    the session apply)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on ITS OWN filesystem — the lake-safe
    replacement for ``os.path.exists`` on persisted-table paths."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete ``path`` (recursively by default); False if it was absent."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def fs_mkdirs(spark: SparkSession, path: str) -> bool:
    """Create ``path`` (and parents) on its own filesystem — used for
    layout/marker directories next to persisted tables."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.mkdirs(jpath))


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file atomically-by-rename (create a sibling
    ``.<name>.tmp``, then rename over the target) — a couple of JVM
    calls, no Spark job. For marker/manifest state next to persisted
    tables: a per-micro-batch Spark write job costs ~0.5 s of scheduler
    overhead for a 32-row frame (the same-data bench gate caught
    exactly that as an ingest regression); this costs filesystem
    round-trips.

    The rename matters (ADVICE r12): an in-place overwrite that crashes
    mid-write DESTROYS the previous good copy — for the graph manifest
    that silently disarmed torn-bucket detection in exactly the crash
    scenarios the manifest exists to catch. With write-then-rename a
    crash before the rename leaves the old file intact (validation
    stays armed); HDFS/posix rename is atomic, and on S3A the rename is
    copy+delete — not atomic, but the tmp object is fully written
    before the copy starts, so no reader ever sees a torn manifest
    (worst case: stale tmp debris, overwritten by the next write).

    The swap itself uses FileContext.rename(OVERWRITE) — one atomic
    clobbering rename, so there is NO window where the target is
    absent. Filesystems without a FileContext implementation fall back
    to delete-then-rename, whose only crash window ("old deleted,
    rename pending") leaves the target ABSENT — the fail-safe
    direction (readers treat absent as cannot-validate), never torn."""
    fs, jpath = _fs_and_path(spark, path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        jpath.getParent(), f".{jpath.getName()}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            spark._jsc.hadoopConfiguration()
        )
        rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename_enum, 1)
        opts[0] = rename_enum.OVERWRITE
        fc.rename(tmp, jpath, opts)
    except Exception:
        # No FileContext for this scheme (some object stores): fall
        # back to delete+rename; crash window leaves ABSENT, not torn.
        # Guard (ADVICE r13): if the FileContext rename actually
        # APPLIED before the exception surfaced (tmp already moved over
        # the target), deleting jpath here would destroy the freshly
        # installed file and leave the target absent on a SUCCESS path.
        # The tmp file still existing is the proof the rename did not
        # apply; otherwise the write already landed and we're done.
        if not fs.exists(tmp):
            if fs.exists(jpath):
                return
            raise IOError(
                f"fs_write_text: FileContext rename failed and {tmp} is "
                f"gone without {jpath} existing — state lost"
            ) from None
        if fs.exists(jpath):
            fs.delete(jpath, False)
        if not bool(fs.rename(tmp, jpath)):
            raise IOError(
                f"fs_write_text: rename {tmp} -> {jpath} failed"
            ) from None


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file in one JVM call; None when absent."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        )
    finally:
        stream.close()


def fs_list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate child DATA files of ``path`` — regular
    files minus the ``_``/``.`` bookkeeping names (_SUCCESS, .crc) —
    empty list when ``path`` is absent. Metadata-only (one listStatus),
    used by the graph-bucket manifest validation."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not st.isDirectory() and not name.startswith(("_", ".")):
            out.append(name)
    return out


def fs_list_partition_data_files(
    spark: SparkSession, path: str, prefix: str
) -> dict[str, list[str]] | None:
    """Immediate data files of EVERY ``<prefix>*`` partition dir under
    ``path``, in a constant number of py4j round trips.

    The per-dir loop (`fs_list_data_files` per partition) costs an
    ``exists`` + ``listStatus`` + ~3·files JVM round trips PER
    PARTITION — measured ~5-9 ms per dir, ~0.3-0.5 s of driver time
    for a 32-bucket graph on every validate-on-read and manifest
    refresh (guide §1.2: per-query driver work). This batches the
    whole tree into TWO ``globStatus`` calls (dirs, then files) and
    iterates the returned statuses — ~3 round trips per entry, no
    per-dir exists/listStatus.

    Returns ``{partition_dir_name: [data file names]}`` — dirs with no
    data files map to ``[]`` — or ``None`` when the batched form is
    unavailable (no glob support on the store), in which case callers
    MUST fall back to the exact per-dir listing.

    Assumes a single writer. The two globs are not one atomic listing:
    a partition dir created between them loses its files (it is not in
    the first glob), and one deleted between them reports ``[]``. The
    graph-bucket manifest has one writer, and for its tear detection
    both cases fail safe; under concurrent writers use the per-dir
    listing."""
    # A glob special character in the TABLE path would make globStatus
    # silently mis-match (wrong listing, not an exception — the
    # fallback would never trigger); route such paths to the exact
    # per-dir loop instead.
    if any(c in path for c in "*?[]{}\\"):
        return None
    try:
        fs, jroot = _fs_and_path(spark, path)
        if not fs.exists(jroot):
            return {}
        jvm = spark._jvm

        def glob(pattern: str):
            st = fs.globStatus(
                jvm.org.apache.hadoop.fs.Path(f"{path}/{pattern}")
            )
            return [] if st is None else st

        result: dict[str, list[str]] = {}
        for st in glob(f"{prefix}*"):
            if st.isDirectory():
                result[str(st.getPath().getName())] = []
        for st in glob(f"{prefix}*/*"):
            p = str(st.getPath())
            parts = p.rstrip("/").rsplit("/", 2)
            if len(parts) < 3 or st.isDirectory():
                continue
            d, name = parts[1], parts[2]
            if name.startswith(("_", ".")) or d not in result:
                continue
            result[d].append(name)
        return result
    except Exception:
        return None


def fs_list_subdirs(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Names of the immediate child DIRECTORIES of ``path`` starting
    with ``prefix`` (e.g. hive partition dirs ``batch=``/``bucket=``);
    empty list when ``path`` is absent."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(name)
    return out
