"""Stage: a named file location for load/unload.

Reference parity (SURVEY §2.1):
- S2 ``CREATE STAGE`` (dp_setup.sql:19-21)  -> a configured directory path
- S3 ``LIST @stage`` (dp_demo.sql:36,106)   -> :meth:`Stage.list`
- S5 ``COPY INTO @stage FROM (SELECT ...)`` (dp_setup.sql:57-81) -> :meth:`Stage.unload_json`
- S6 ``SELECT $1 FROM @stage`` (dp_demo.sql:122) -> :meth:`Stage.read_json` / :meth:`Stage.read_raw`
- S7 ``metadata$filename`` (dp_setup.sql:112) -> ``_metadata.file_path``
- S8 ``RM @stage/path`` (dp_demo.sql:13,295) -> :meth:`Stage.rm`
- S1 storage integration (dp_setup.sql:3-8) -> the path may be any Hadoop
  filesystem URL (s3a://... with fs.s3a.* conf on a real cluster); locally a
  plain directory. Nothing else in the engine cares which.

Scale notes: listing goes through the JVM Hadoop FileSystem so it works for
s3a/hdfs/file identically and never assumes POSIX. Unload writes one
directory per day-partition (the reference writes one *file* per day —
dp_setup.sql:57; at 100 TB a day-partition is many files, so we keep the
day-prefix contract but let Spark parallelize within it).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql.types import StructType


@dataclass(frozen=True)
class StageFile:
    path: str
    size: int
    mtime_ms: int


#: formats the reference's VARIANT table claims (dp_setup.sql:140)
#: whose Spark data source may or may not be registered on this
#: deployment (avro is an external module unless the jar is deployed;
#: xml is built in from Spark 4)
_OPTIONAL_FORMATS = ("avro", "xml")
_probe_cache: dict[str, bool] = {}


def optional_formats(spark: SparkSession) -> tuple[str, ...]:
    """Which of the optional formats (avro, xml) this deployment's
    data-source registry actually resolves. Probed once per process via
    the registry itself (``DataSource.lookupDataSource`` — no dummy
    read, no logged stack noise); class presence alone is not enough,
    since Spark resolves shortnames through ServiceLoader
    registration."""
    out = []
    jvm = spark.sparkContext._jvm
    for fmt in _OPTIONAL_FORMATS:
        if fmt not in _probe_cache:
            try:
                conf = jvm.org.apache.spark.sql.internal.SQLConf.get()
                jvm.org.apache.spark.sql.execution.datasources.DataSource \
                    .lookupDataSource(fmt, conf)
                _probe_cache[fmt] = True
            except Exception:  # noqa: BLE001 — source not registered
                _probe_cache[fmt] = False
        if _probe_cache[fmt]:
            out.append(fmt)
    return tuple(out)


class Stage:
    """A named file location (dir or object-store prefix)."""

    def __init__(self, spark: SparkSession, url: str):
        self.spark = spark
        self.url = url.rstrip("/")
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._jpath = jvm.org.apache.hadoop.fs.Path(self.url)
        self._fs = self._jpath.getFileSystem(hconf)
        self._jvm = jvm
        self._fs.mkdirs(self._jpath)

    # -- S3: LIST @stage ---------------------------------------------------
    def list(self, prefix: str = "") -> list[StageFile]:
        """Recursive file listing, like ``LIST @stage/prefix``.

        A walk with ``listStatus`` that prunes ``_``/``.`` names before
        descending: ``_SUCCESS``, ``.crc`` files and ``_temporary/``
        dirs of writes in progress are left out at any depth, as the
        pipe's file source leaves them out. Not ``listFiles``: it builds
        a ``LocatedFileStatus`` per file, which loads the file's
        permissions, and Hadoop's local filesystem forks ``ls -ld`` for
        that when libhadoop is not loaded."""
        p = self._jvm.org.apache.hadoop.fs.Path(f"{self.url}/{prefix}" if prefix else self.url)
        if not self._fs.exists(p):
            return []
        out: list[StageFile] = []
        stack = [p]
        while stack:
            for st in self._fs.listStatus(stack.pop()):
                jpath = st.getPath()
                path = jpath.toString()
                if path.rsplit("/", 1)[-1].startswith(("_", ".")):
                    continue
                if st.isDirectory():
                    stack.append(jpath)
                else:
                    out.append(StageFile(path, st.getLen(), st.getModificationTime()))
        return sorted(out, key=lambda f: f.path)

    def list_df(self, prefix: str = "") -> DataFrame:
        """Stage listing as a DataFrame (name, size, last_modified)."""
        rows = [(f.path, f.size, f.mtime_ms) for f in self.list(prefix)]
        return self.spark.createDataFrame(
            rows, "name string, size long, last_modified_ms long"
        )

    #: staged-file formats with built-in Spark sources (the reference's
    #: VARIANT table claims "Parquet, JSON, ORC, XML, Avro" storability,
    #: dp_setup.sql:140 — Avro/XML ship as external Spark modules and
    #: light up via :func:`optional_formats` when their jar is present)
    FORMATS = ("json", "csv", "parquet", "orc", "text")

    def supported_formats(self) -> tuple[str, ...]:
        """Built-in formats plus whichever optional modules (avro, xml)
        this JVM's classpath actually provides."""
        return self.FORMATS + optional_formats(self.spark)

    # -- S5: COPY INTO @stage (unload) --------------------------------------
    def unload(self, df: DataFrame, prefix: str, format: str = "json",
               compression: str | None = None, **options: str) -> str:
        """Write a query result as staged files under ``prefix`` in any
        supported format (``supported_formats()``)."""
        supported = self.supported_formats()
        if format not in supported:
            raise ValueError(
                f"format {format!r} needs an external Spark module not "
                f"on this classpath; available: {supported}"
            )
        target = f"{self.url}/{prefix}"
        writer = df.write.mode("append").format(format)
        if compression:
            writer = writer.option("compression", compression)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save(target)
        return target

    def unload_json(self, df: DataFrame, prefix: str,
                    compression: str | None = None) -> str:
        """Write a query result as JSON-lines files under ``prefix``
        (dp_setup.sql:57-81 writes gzip JSON per day-prefix)."""
        return self.unload(df, prefix, "json", compression)

    # -- S6: SELECT $1 FROM @stage -------------------------------------------
    def read_json(self, schema: "StructType | str", prefix: str = "") -> DataFrame:
        """Typed read of staged JSON (schema-on-read, never inference —
        inference is a full extra pass over 100 TB)."""
        src = f"{self.url}/{prefix}" if prefix else self.url
        return (
            self.spark.read.schema(schema)
            .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
            .option("recursiveFileLookup", "true")
            .json(src)
        )

    def read(self, schema: "StructType | str", prefix: str = "",
             format: str = "json", **options: str) -> DataFrame:
        """Typed read of staged files in any supported format —
        schema-on-read, never inference (inference is a full extra pass
        over 100 TB)."""
        supported = self.supported_formats()
        if format not in supported:
            raise ValueError(
                f"format {format!r} needs an external Spark module not "
                f"on this classpath; available: {supported}"
            )
        src = f"{self.url}/{prefix}" if prefix else self.url
        r = (
            self.spark.read.schema(schema).format(format)
            .option("recursiveFileLookup", "true")
        )
        for k, v in options.items():
            r = r.option(k, v)
        return r.load(src)

    def read_raw(self, prefix: str = "") -> DataFrame:
        """``SELECT $1, metadata$filename FROM @stage`` — raw text rows +
        source-file pseudo-column (dp_demo.sql:120-122)."""
        src = f"{self.url}/{prefix}" if prefix else self.url
        return (
            self.spark.read
            # stages lay files out under day-prefix subdirectories
            .option("recursiveFileLookup", "true")
            .text(src)
            .select(
                F.col("value").alias("$1"),
                F.col("_metadata.file_path").alias("metadata$filename"),
            )
        )

    # -- S8: RM @stage -------------------------------------------------------
    def rm(self, path_or_prefix: str = "", recursive: bool = True) -> bool:
        """Delete a staged file or prefix. Swallows not-found (the
        reference's purge loop ignores rm errors, dp_setup.sql:124-126)."""
        target = f"{self.url}/{path_or_prefix}" if path_or_prefix and not path_or_prefix.startswith(
            ("/", "file:", "s3a:", "hdfs:")
        ) else (path_or_prefix or self.url)
        p = self._jvm.org.apache.hadoop.fs.Path(target)
        if not self._fs.exists(p):
            return False
        return bool(self._fs.delete(p, recursive))

    def exists(self, path: str) -> bool:
        p = self._jvm.org.apache.hadoop.fs.Path(f"{self.url}/{path}")
        return bool(self._fs.exists(p))
