"""Typed parquet IO: empty-fallback reads and versioned state commits.

Reference S4 (src/plugins/common/s3.py:88-106): a missing state file
yields a typed EMPTY DataFrame, not an error. Reference S5 (:108-117)
overwrites the same file it just read — safe in eager pandas, but
self-clobbering under Spark's lazy evaluation (SURVEY.md §4.4.1). The
StateStore therefore commits each state generation to a fresh versioned
directory and flips a manifest pointer last, giving atomic-ish
read-own-output cycles plus time-travel for free.

Paths are generic Hadoop-FS paths: local in tests, ``s3a://`` in
production (credentials are Hadoop S3A config, not engine code —
reference S8 is boto3 session wiring we deliberately do not port).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import empty_df, require_columns


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """S4 — schema'd parquet scan; missing path → typed empty frame.

    Always passes the explicit schema so the scan never infers and the
    empty case is shape-identical (reference s3.py:98-101,
    opensky/transformers.py:62-63).
    """
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(jvm_path):
        return empty_df(spark, schema)
    return spark.read.schema(schema).parquet(path)


def read_parquet_evolved(
    spark: SparkSession, path: str, target: StructType
) -> DataFrame:
    """Schema-evolution-tolerant scan: parquet written across schema
    generations (columns ADDED or RETIRED over time) reads back as ONE
    frame in the target schema — the long-lived-sink reality the
    strict reader above can't serve, because passing an explicit
    schema makes old files silently yield nulls for absent columns
    with no way to also drop retired ones.

    Mechanics: scan with mergeSchema (footer-union of all file
    schemas), then project to ``target`` — columns absent from every
    file materialize as typed nulls, present columns CAST to the
    target type (so the TARGET may widen uniformly, e.g. int files
    read as a bigint column), and retired columns drop. Files must
    agree on a stored column's physical type — parquet schema merge
    rejects per-file type drift (int here, bigint there), which is a
    WRITER bug this reader deliberately surfaces rather than papers
    over. Missing path → typed empty frame, same as
    read_parquet_or_empty.

    Scale note: mergeSchema reads file FOOTERS, not data; column
    pruning and predicate pushdown still reach the scan because the
    projection is a plain select over the merged relation.
    """
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(jvm_path):
        return empty_df(spark, target)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    have = {f.name for f in merged.schema.fields}
    cols = [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in target.fields
    ]
    return merged.select(*cols)


class StateStore:
    """Versioned keyed-state parquet store with manifest-swap commits.

    Layout::

        <root>/_MANIFEST.json          -> {"version": "<dirname>"}
        <root>/v_<uuid>/part-*.parquet

    ``read`` resolves the manifest; ``commit`` writes a brand-new
    directory then atomically rewrites the manifest. The previous
    generation stays readable throughout, fixing the reference's
    read-then-overwrite hazard (SURVEY.md §4.4.1) and its non-atomic
    two-output commit: pipeline.py stages the fact append first and
    commits state last.
    """

    MANIFEST = "_MANIFEST.json"

    def __init__(self, spark: SparkSession, root: str, schema: StructType) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema

    # -- hadoop fs helpers (work for file:// and s3a:// alike) ----------
    def _fs_and_path(self, path: str):
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
        fs = jvm_path.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001
        return fs, jvm_path

    def _read_manifest(self) -> str | None:
        fs, mpath = self._fs_and_path(f"{self.root}/{self.MANIFEST}")
        if not fs.exists(mpath):
            return None
        stream = fs.open(mpath)
        try:
            data = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)  # noqa: SLF001
            )
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))["version"]

    def _write_manifest(self, version: str) -> None:
        fs, mpath = self._fs_and_path(f"{self.root}/{self.MANIFEST}")
        tmp = f"{self.root}/{self.MANIFEST}.tmp-{uuid.uuid4().hex}"
        fs_tmp, tpath = self._fs_and_path(tmp)
        out = fs_tmp.create(tpath, True)
        try:
            out.write(json.dumps({"version": version}).encode("utf-8"))
        finally:
            out.close()
        # Atomic replace via FileContext.rename(OVERWRITE) on local/HDFS —
        # no window where the root has no manifest. Filesystems without an
        # AbstractFileSystem binding (some object stores) fall back to
        # delete+rename; read() covers that window by resolving the newest
        # generation when the manifest is missing but v_* dirs exist.
        jvm = self.spark._jvm  # noqa: SLF001
        try:
            gw = self.spark.sparkContext._gateway  # noqa: SLF001
            opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                mpath.toUri(), self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
            )
            fc.rename(tpath, mpath, opts)
        except Exception:  # pragma: no cover - object-store fallback
            fs.delete(mpath, False)
            fs.rename(tpath, mpath)

    # -- public API -----------------------------------------------------
    def read(self) -> DataFrame:
        """Current state generation, or a typed empty frame if none.

        A missing manifest with existing ``v_*`` generations is a crash
        artifact (manifest swap interrupted on a non-atomic filesystem),
        NOT an empty store — silently returning empty state here would
        restart every in-flight session. Recover by resolving the newest
        generation by mtime: that is the generation the interrupted
        commit was publishing.
        """
        version = self.current_version()
        if version is None:
            return empty_df(self.spark, self.schema)
        df = self.spark.read.schema(self.schema).parquet(f"{self.root}/{version}")
        return require_columns(df, [f.name for f in self.schema.fields])

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific retained state generation.

        Any version still listed by :meth:`versions` (i.e. not yet
        vacuumed) is readable — committed generations are immutable, so
        this is a consistent snapshot of the keyed state as of that
        commit. The debugging/backfill read every versioned store owes
        its operators: replay a past cycle's input exactly, diff two
        generations (operators/warehouse.snapshot_diff), or re-derive a
        sink batch id.
        """
        if version not in self.versions():
            raise ValueError(
                f"unknown or vacuumed state generation {version!r}; "
                f"retained: {self.versions()}"
            )
        df = self.spark.read.schema(self.schema).parquet(
            f"{self.root}/{version}"
        )
        return require_columns(df, [f.name for f in self.schema.fields])

    def current_version(self) -> str | None:
        """Resolved current generation (manifest, else crash-recovery
        newest) — also the deterministic batch id for downstream sinks:
        a replay against the same generation re-derives the same id."""
        version = self._read_manifest()
        if version is None:
            version = self._newest_generation()
        return version

    def _newest_generation(self) -> str | None:
        fs, rpath = self._fs_and_path(self.root)
        if not fs.exists(rpath):
            return None
        newest: tuple[int, str] | None = None
        for status in fs.listStatus(rpath):
            name = status.getPath().getName()
            if name.startswith("v_"):
                key = (status.getModificationTime(), name)
                if newest is None or key > newest:
                    newest = key
        return newest[1] if newest else None

    def commit(self, df: DataFrame) -> str:
        """Write ``df`` as the next generation and flip the manifest."""
        version = f"v_{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(f"{self.root}/{version}")
        self._write_manifest(version)
        return version

    def versions(self) -> list[str]:
        fs, rpath = self._fs_and_path(self.root)
        if not fs.exists(rpath):
            return []
        out = []
        for status in fs.listStatus(rpath):
            name = status.getPath().getName()
            if name.startswith("v_"):
                out.append(name)
        return sorted(out)

    def vacuum(self, keep: int = 2) -> None:
        """Drop all but the newest ``keep`` generations (by mtime)."""
        fs, _ = self._fs_and_path(self.root)
        current = self._read_manifest()
        stats = []
        for status in fs.listStatus(self._fs_and_path(self.root)[1]):
            name = status.getPath().getName()
            if name.startswith("v_") and name != current:
                stats.append((status.getModificationTime(), name))
        stats.sort(reverse=True)
        for _, name in stats[max(keep - 1, 0):]:
            fs.delete(self._fs_and_path(f"{self.root}/{name}")[1], True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Compact a parquet directory's small files toward
    ``target_file_bytes`` per file; returns {files_before, files_after,
    bytes}.

    THE steady-state maintenance job of any high-cadence sink: a
    5-minute append cadence writes ~288 small files/day/partition, and
    at 100 TB the scan's task count (and the namenode/listing load)
    grows with file count, not data size. Compaction rewrites the
    directory as ceil(bytes / target) files via a round-robin
    repartition and swaps it in with a rename pair. The swap is NOT
    atomic: between staging the original aside and publishing the
    compacted layout there is a brief window with nothing at ``path``
    (concurrent readers can see FileNotFound). A crash inside that
    window leaves the data intact under ``<path>__precompact``; the
    next invocation detects the leftover and restores it before
    compacting, so the job is safe to re-run after any crash. For a
    window-free swap, run it against object stores / HDFS from the
    orchestrator's housekeeping slot while no reader is scheduled —
    the same slot as ``retention_purge``.
    """
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    # crash recovery: a prior run may have died mid-swap. Three cases:
    #  - __precompact exists and path is missing → died between the two
    #    renames: restore the original.
    #  - __precompact and path both exist → died after publish but
    #    before cleanup: the published layout is live, drop the stale
    #    staging copy (it would make our own stage-aside rename fail).
    #  - __compacting leftover → incomplete write, always safe to drop.
    pre_path = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        f"{path.rstrip('/')}__precompact"
    )
    if fs.exists(pre_path):
        if not fs.exists(jvm_path):
            if not fs.rename(pre_path, jvm_path):
                raise IOError(
                    f"compaction: could not restore {pre_path} to {path}"
                )
        else:
            fs.delete(pre_path, True)
    stale_tmp = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        f"{path.rstrip('/')}__compacting"
    )
    if fs.exists(stale_tmp):
        fs.delete(stale_tmp, True)
    statuses = [
        s
        for s in fs.listStatus(jvm_path)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    files_before = len(statuses)
    total_bytes = sum(s.getLen() for s in statuses)
    n_out = max(1, -(-total_bytes // max(1, target_file_bytes)))
    if files_before <= n_out:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total_bytes,
        }
    tmp = f"{path.rstrip('/')}__compacting"
    old = f"{path.rstrip('/')}__precompact"
    df = spark.read.parquet(path)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    tmp_path = spark._jvm.org.apache.hadoop.fs.Path(tmp)  # noqa: SLF001
    old_path = spark._jvm.org.apache.hadoop.fs.Path(old)  # noqa: SLF001
    if not fs.rename(jvm_path, old_path):
        raise IOError(f"compaction: could not stage {path} aside")
    if not fs.rename(tmp_path, jvm_path):
        # roll back: restore the original directory
        fs.rename(old_path, jvm_path)
        raise IOError(f"compaction: could not publish {tmp}")
    fs.delete(old_path, True)
    after = [
        s
        for s in fs.listStatus(jvm_path)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    return {
        "files_before": files_before,
        "files_after": len(after),
        "bytes": total_bytes,
    }
