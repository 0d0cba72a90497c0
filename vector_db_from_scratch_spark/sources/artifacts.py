"""Process-lifetime scratch directories for persisted artifacts.

Memoized queries materialize on-disk artifacts (persisted LSH/IVF index
tables, ORC/CSV/JSONL layout twins, reference-layout migration fixtures).
``tempfile.mkdtemp`` alone leaks one directory per process on shared
machines; every scratch dir allocated here is registered for a single
``atexit`` ``shutil.rmtree`` sweep, so artifact lifetime == process
lifetime -- exactly the lifecycle the memoized builders that return
these paths already have (operators/_memo.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

ARTIFACT_ROOT_ENV = "SPARK_GRAFT_ARTIFACT_DIR"
_SCRATCH_DIRS: list[str] = []


def artifact_root() -> str:
    """Where trained artifacts (IVF, PQ, media fixtures) persist across
    processes: ``$SPARK_GRAFT_ARTIFACT_DIR``, else ``spark-graft-artifacts``
    under the system temp dir. Point the variable at an empty directory to
    rebuild every artifact from a clean state."""
    return os.environ.get(
        ARTIFACT_ROOT_ENV, os.path.join(tempfile.gettempdir(), "spark-graft-artifacts")
    )


def _cleanup() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup)


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory removed automatically at process exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(path)
    return path


def write_partitioned(df, path: str, *cols: str) -> None:
    """``partitionBy(*cols)`` parquet overwrite of ``path``, pre-repartitioned
    BY THE PARTITION COLUMNS so directory/file creation parallelizes across
    tasks and each write leaves exactly one file in each partition
    directory (guide §6: cluster by the partition key before the write --
    Iceberg's ``write.distribution-mode=hash`` is the table-format form of
    the same move). The index/layout artifacts here are built from cached or
    single-file sources that arrive as ONE Spark partition, so the bare
    write emitted every partition directory from a single task at
    ~50-100ms of per-file create/commit latency apiece -- measured 3-5x
    slower than the repartitioned form at sf0.1 (24s for the 256-bucket
    LSH artifact inside a contended bench window) and strictly worse at
    scale, where a serialized writer also holds the whole table's write
    path on one core. Task count follows defaultParallelism, the
    scale-adaptive default; the shuffle it costs is the artifact itself
    (small here, and at 100 TB the shuffle is what buys file-count
    hygiene)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, *cols).write.mode("overwrite").partitionBy(*cols).parquet(path)


def discard_corrupt_artifact(path: str) -> None:
    """Remove an invalid persisted artifact via rename-aside: an atomic
    ``os.rename`` detaches the directory from its live path first, so a
    concurrent reader never observes a half-deleted tree and a concurrent
    writer's fresh output under the live path is never swept by our
    rmtree. If the rename fails (another process already discarded or is
    rewriting it), do nothing -- the other process owns the repair."""
    aside = f"{path}.corrupt-{os.getpid()}"
    try:
        os.rename(path, aside)
    except OSError:
        return
    shutil.rmtree(aside, ignore_errors=True)


def is_read_corruption(exc: Exception) -> bool:
    """True only for read-path failures indicating the artifact itself is
    damaged (parts deleted behind ``_SUCCESS``, truncated parquet footer,
    path vanished) -- NOT transient failures (executor loss, OOM,
    interrupted job), which must never trigger deletion of a valid shared
    artifact that other processes are reading."""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(exc, AnalysisException):
            return True
    except ImportError:  # pragma: no cover - very old pyspark
        pass
    text = str(exc)
    return any(
        marker in text
        for marker in (
            "FileNotFoundException",
            "is not a Parquet file",
            "Could not read footer",
            "PATH_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
        )
    )


# Bumped whenever a training kernel or persisted-artifact layout changes:
# the version is folded into every content-keyed artifact tag, so an
# artifact trained by older code is never silently served to newer code
# (the shared artifact dir outlives processes and code revisions).
ALGO_VERSION = "v4"  # v4: Lloyd d^2 rounding is explicit half-up (was np.round half-to-even)


def source_ident(path: str) -> str:
    """Identity string for a source data file used in content-keyed
    artifact tags: abspath + mtime + size + an md5 of the file's last
    64 KiB + :data:`ALGO_VERSION`. The tail fingerprint covers the parquet
    footer (row-group offsets, column statistics), so a regenerated file
    with preserved mtime and identical size (cp -p, rsync -t,
    deterministic regeneration) still changes the tag."""
    import hashlib
    import os

    st = os.stat(path)
    with open(path, "rb") as fh:
        fh.seek(max(0, st.st_size - 65536))
        tail = fh.read()
    fp = hashlib.md5(tail).hexdigest()[:12]
    return f"{os.path.abspath(path)}:{st.st_mtime}:{st.st_size}:{fp}:{ALGO_VERSION}"
