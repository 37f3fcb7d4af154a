"""Source / sink operators (reference Tier A: A1, A4, A9, A10, A14).

Spark-first mapping of the reference's io surface:

- landing discovery (``dag.py:66-68`` boto3 listing) → file-source globs;
  Spark lists, splits, and schedules the files itself.
- chunked CSV parse (``dag.py:180-182``, 50k-row chunks) → a schema'd
  ``spark.read.csv``: partitions are the chunking, vectorized and parallel.
- parquet stage write/read (``dag.py:203-211``) → ``write.parquet`` /
  ``read.parquet`` with pushdown and pruning intact.
- archive move (``dag.py:259-266``) → filesystem rename via the JVM Hadoop
  FileSystem API (:class:`HadoopFS`) so it works identically for file://
  and s3a:// paths.

All paths are plain strings; anything Hadoop understands (local, s3a, hdfs)
works unchanged — at 100 TB these same calls fan out over the cluster.
"""

from __future__ import annotations

from collections.abc import Sequence
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import TESTDATA_SCHEMAS


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver test table (parquet; pushdown + pruning apply).

    The events ``ts`` column has shipped in two physical layouts across
    testdata generations, so the read is schema-adaptive (the branch costs
    one footer read, which schema resolution does anyway):

    - INT64 TIMESTAMP(NANOS) — the vectorized reader rejects it; with
      ``nanosAsLong`` it surfaces as bigint nanos, truncated to micros via
      ``ts DIV 1000`` (exact integer division — a double cast would lose
      precision above 2^53), matching DuckDB's nanos→micros truncation.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) — surfaces as
      TIMESTAMP_NTZ; converted to an instant by interpreting the stored
      wall clock as UTC. The conversion is session-timezone-independent:
      ``timestampdiff(MICROSECOND, epoch, ts)`` is pure wall-clock
      arithmetic on NTZ operands (a plain ``cast`` would shift every
      event for a caller running a non-UTC session timezone).

    Either way callers see one stable contract: ``ts`` is TimestampType
    (LTZ) at micro precision.

    ``nanosAsLong`` is set session-level and deliberately NOT restored:
    the returned plan is lazy, and the physical scan re-reads the conf at
    action time — a save/restore here would break execution of the very
    DataFrame being returned. The setting is inert for micros files and
    for every other table; session setup (``session.get_spark`` /
    ``tune_for_queries``) sets the same value explicitly so the behavior
    is declared, not a read_table side effect.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("bigint", "long"):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND,"
                        " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
                    )
                ),
            )
        return df
    return spark.read.parquet(path)


class HadoopFS:
    """Hadoop FileSystem operations for one call: listings, probes,
    deletes, renames, small reads and writes.

    A ``jvm.org.apache.hadoop.fs.Path`` lookup is five Py4J round trips
    and every ``getFileSystem`` one more, so the handle looks the Path
    class up once and resolves each FileSystem once per scheme and
    authority (the key of Hadoop's own FileSystem cache): ``file:``,
    ``viewfs://`` and ``s3a://`` paths still each reach their own store,
    and an operation costs one round trip per Path plus one per
    FileSystem call.
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._conf = sc._jsc.hadoopConfiguration()
        self._path = self._class("org.apache.hadoop.fs.Path")
        self._filesystems: dict = {}

    def _class(self, name: str):
        # a dotted name resolves in one round trip, not one per segment
        return getattr(self._jvm, name)

    def _resolve(self, path: str):
        p = self._path(path)
        key = urlsplit(path)[:2]
        fs = self._filesystems.get(key)
        if fs is None:
            fs = self._filesystems[key] = p.getFileSystem(self._conf)
        return fs, p

    def exists(self, path: str) -> bool:
        fs, p = self._resolve(path)
        return bool(fs.exists(p))

    def delete(self, path: str) -> bool:
        """Recursive delete; False when ``path`` is absent."""
        fs, p = self._resolve(path)
        return bool(fs.delete(p, True))

    def move(self, src: str, dst: str) -> bool:
        """Archive move (reference dag.py:259-266): rename ``src`` to
        ``dst``, creating the parent of ``dst`` first if needed.

        Replaces the reference's copy+delete pair with an
        atomic-where-supported rename."""
        fs, src_p = self._resolve(src)
        dst_p = self._path(dst)
        parent = dst_p.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        return bool(fs.rename(src_p, dst_p))

    def check_retired(self, retired: str) -> None:
        """Raise ``IOError`` when ``retired`` exists: a :meth:`swap` that
        did not finish left it, and it may hold the only copy of a live
        path. Callers check before writing a new copy, and never delete
        it themselves."""
        if self.exists(retired):
            raise IOError(
                f"{retired} is left by an unfinished commit and may hold "
                "the only copy of a live path; restore or remove it first"
            )

    def swap(self, units: list[tuple[str, str, str | None]], retired: str) -> bool:
        """Publish each unit ``(new, live, name)``: retire, then install.

        When ``name`` is not None, ``live`` exists and is first renamed to
        ``{retired}/{name}``; the caller knows which live copies exist, so
        no probe is sent for them. Then ``new``, if the write produced it,
        is renamed to ``live``. ``retired`` must not exist yet (see
        :meth:`check_retired`); it is created on the first retire, all
        units on one FileSystem. Returns whether anything was retired.

        A crash leaves every old copy either live or in ``retired``; only
        between a unit's two renames is its live path absent.
        """
        made = False
        for new, live, name in units:
            fs, live_p = self._resolve(live)
            if name is not None:
                if not made:
                    fs.mkdirs(self._path(retired))
                    made = True
                _rename(fs, live_p, self._path(f"{retired}/{name}"))
            new_p = self._path(new)
            if fs.exists(new_p):
                _rename(fs, new_p, live_p)
        return made

    def _children(self, directory: str) -> list:
        """(FileStatus, Path, name) of each entry directly under
        ``directory``; empty when it is absent."""
        fs, p = self._resolve(directory)
        if not fs.exists(p):
            return []
        out = []
        for status in fs.listStatus(p):
            path = status.getPath()
            out.append((status, path, str(path.getName())))
        return out

    def list_files(self, directory: str, suffix: str) -> list[str]:
        """Sorted full paths of the files directly under ``directory``
        whose names end with ``suffix``."""
        return sorted(
            str(path.toString())
            for status, path, name in self._children(directory)
            if name.endswith(suffix) and status.isFile()
        )

    def list_dirs(self, directory: str) -> list[str]:
        """Sorted names of the directories directly under ``directory``."""
        return sorted(
            name
            for status, _, name in self._children(directory)
            if status.isDirectory()
        )

    def first_line(self, path: str) -> str | None:
        """The first line of ``path`` read as UTF-8 ("" for an empty
        file), or None when the file is absent."""
        fs, p = self._resolve(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            reader = self._class("java.io.BufferedReader")(
                self._class("java.io.InputStreamReader")(stream, "UTF-8")
            )
            return reader.readLine() or ""
        finally:
            stream.close()

    def read_bytes(self, path: str) -> bytes:
        fs, p = self._resolve(path)
        stream = fs.open(p)
        try:
            io_utils = self._class("org.apache.commons.io.IOUtils")
            return bytes(io_utils.toByteArray(stream))
        finally:
            stream.close()

    def parquet_columns(self, path: str) -> list[str]:
        """Top-level column names of the parquet file ``path``, read from
        its footer alone (no Spark job)."""
        _, p = self._resolve(path)
        reader = self._class("org.apache.parquet.hadoop.ParquetFileReader")
        schema = reader.readFooter(self._conf, p).getFileMetaData().getSchema()
        return [schema.getFieldName(i) for i in range(schema.getFieldCount())]

    def write_bytes(self, path: str, data: bytes) -> None:
        fs, p = self._resolve(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"could not rename {src.toString()} to {dst.toString()}")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe — works for file://, s3a://, hdfs://."""
    return HadoopFS(spark).exists(path)


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive Hadoop-FS delete (no-op if absent) — portable, unlike
    shutil.rmtree which only understands local paths."""
    return HadoopFS(spark).delete(path)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """CSV scan with an explicit schema (replaces dag.py:180-182 chunking).

    One declarative scan; Spark parallelizes by file splits, so the
    reference's 50k-row chunk loop is subsumed by partitioning. Explicit
    schema keeps the read single-pass (no inference pass) — at 100 TB an
    inference pass would read the data twice.
    """
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar stage write (replaces dag.py:203-207 pandas→buffer→S3 put)."""
    df.write.mode(mode).parquet(path)


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Stage read-back (replaces dag.py:210-211)."""
    return spark.read.parquet(path)


def parquet_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(name, bytes) of the parquet data files under ``path`` — Hadoop FS
    listing, so it works for s3a://hdfs:// too."""
    return [
        (name, int(status.getLen()))
        for status, _, name in HadoopFS(spark)._children(path)
        if name.endswith(".parquet") and status.isFile()
    ]


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite ``src`` as ⌈bytes/target⌉ files.

    The maintenance operation every long-running ingest needs — streaming
    and per-batch sinks accrete files far smaller than a good scan unit,
    and at 100 TB a scan's task count (and the NameNode/S3 listing cost)
    is driven by file count. Uses ``coalesce`` — a partition merge with
    NO shuffle: each output task concatenates whole input partitions, so
    compaction cost is one read + one write of the data, nothing moves
    between executors. Returns the output file count.
    """
    total = sum(sz for _, sz in parquet_data_files(spark, src))
    n = max(1, -(-total // target_file_bytes))
    spark.read.parquet(src).coalesce(n).write.mode("overwrite").parquet(dst)
    return n


def csv_roundtrip(
    spark: SparkSession, df: DataFrame, path: str, schema: T.StructType
) -> DataFrame:
    """Write ``df`` as CSV and scan it back with the explicit schema.

    Exercises the full CSV serializer/parser path (header, nulls as empty
    fields, timestamp format) the way the reference round-trips landing
    files through MinIO.
    """
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


def json_roundtrip(
    spark: SparkSession, df: DataFrame, path: str, schema: T.StructType
) -> DataFrame:
    """Write ``df`` as JSON-lines and scan it back with the explicit schema.

    Line-delimited JSON is the splittable-at-scale layout (each executor
    parses its own byte range); the explicit schema keeps the read
    single-pass, like :func:`scan_csv`.
    """
    (
        df.write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(path)
    )
    return (
        spark.read.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(path)
    )


def orc_roundtrip(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as ORC and scan it back.

    ORC is the second columnar format the engine speaks natively —
    predicate pushdown and column pruning apply exactly as for parquet,
    and the schema rides in the file footer (no explicit schema needed).
    """
    df.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed, sorted Spark table.

    Two tables bucketed (and sorted) on the same keys with the same
    bucket count join with ZERO shuffle and zero sort — the layout is the
    exchange, paid once at write time. This is the co-located-join
    strategy for repeatedly-joined 100 TB fact tables; bucket count
    should divide evenly into cluster cores (here: the local default).
    """
    w = df.write.mode("overwrite").bucketBy(buckets, *keys).sortBy(*keys)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def list_files(spark: SparkSession, directory: str, suffix: str = ".csv") -> list[str]:
    """Landing discovery (reference A1, dag.py:66-68): list + suffix filter.

    Driver-side by design — it is control-plane metadata (file names), not
    data; the reference's manifest snapshot is the same listing frozen as
    JSON. Bulk data never flows through this.
    """
    return HadoopFS(spark).list_files(directory, suffix)


__all__ = [
    "TESTDATA_SCHEMAS",
    "read_table",
    "scan_csv",
    "sink_parquet",
    "scan_parquet",
    "csv_roundtrip",
    "json_roundtrip",
    "orc_roundtrip",
    "save_bucketed",
    "HadoopFS",
    "fs_exists",
    "fs_delete",
    "list_files",
]
