"""Session bootstrap — the Spark analog of the reference's ``SessionContext``
construction (reference: ``examples/dataframe/main.rs:84``, ``src/utils/dataframe.rs``
uses ``SessionContext::new()`` everywhere).

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy demotion replace any hand-tuned physical planning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for tests;
  on a real cluster AQE's coalescing makes the initial number a ceiling, so a
  larger value (2-3x total cores) is the right production setting.
- Arrow enabled so pandas/Arrow interchange matches the reference's
  RecordBatch-centric data model (SURVEY.md §1.1).
- Session timezone pinned to UTC and parquet NTZ inference on, so timestamp
  semantics match the reference's timezone-naive ``Timestamp(Nanosecond, None)``
  (``src/utils/datasets.rs:45-49``) and the DuckDB oracle.
- The driver JVM starts from a class-data-sharing archive when one is there,
  and writes one at its first clean exit when not (:func:`_jvm_launch`), so
  the reference's near-free ``SessionContext::new()`` costs a few seconds of
  JVM start here instead of ~7.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import string
import sys
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: star-schema tables generated by the driver (TESTDATA.md)
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_session(app_name: str = "sparkfusion", cpus: int | str | None = None) -> SparkSession:
    """Create (or get) the SparkSession with scale-appropriate defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
        # vintages, which Spark rejects unless read as epoch-nanos long; the
        # conf is a no-op for timestamp[us] footers, and events_with_ts()
        # branches on the arrived dtype either way (SURVEY.md §7 risk 2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # oracle tooling collects full results; the 1g default trips on
        # density-quadratic outputs (j10 at sf1 overlays 10 copies onto the
        # same time window). Operators themselves never collect.
        .config("spark.driver.maxResultSize", "4g")
    )
    with _jvm_launch(builder):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of the host's ``MemTotal``, at least 1 GB, as a
    ``spark.driver.memory`` value: room for a second JVM, the Python workers
    and the OS beside the heap. 1 GB when ``meminfo`` is unreadable."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        total_kb = 0
    return f"{max(1024, total_kb // 4 // 1024)}m"


#: where the driver JVM's class-data-sharing archives live: beside
#: ``.perfbench_data/`` at the checkout root, one file per JDK and jar set
JVM_ARCHIVE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".jvm_archive"
)

#: the first four bytes of a complete JDK 17 dynamic archive. The JVM writes
#: the header last, after every region, so a dump cut short has no magic
_DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8


def _archive_conf_dir() -> str:
    """The empty conf dir a launch with an archive points Spark at."""
    return os.path.join(JVM_ARCHIVE_DIR, "conf")


def _jvm_archive_path() -> str | None:
    """The archive for the JDK, jar set and checkout a launch would use now,
    or None when there is nothing to key it on. The key is the resolved
    ``java`` as Spark's launcher finds it (``$JAVA_HOME/bin/java``, else
    ``java`` on the PATH), the stat of that JDK's ``libjvm.so``, the name,
    size and mtime of each jar in ``$SPARK_HOME/jars``, and the absolute
    path of the launch's conf dir, which the archive records at the head of
    its classpath: a JDK update, a changed jar or a moved checkout gets a
    new archive instead of one the JVM would refuse."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    if not os.path.exists(libjvm) or not jars:
        return None
    key = repr((java, files_meta([libjvm]).files, files_meta(jars).signature, _archive_conf_dir()))
    return os.path.join(JVM_ARCHIVE_DIR, hashlib.sha256(key.encode()).hexdigest()[:16] + ".jsa")


def _archive_complete(path: str) -> bool:
    """Does the file at ``path`` start with the dynamic-archive magic?"""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except OSError:
        return False
    return int.from_bytes(head, sys.byteorder) == _DYNAMIC_ARCHIVE_MAGIC


def _conf_dir_inert() -> bool:
    """Does the conf dir Spark's launcher would use hold nothing it reads:
    no such dir, or only ``*.template`` files?"""
    from pyspark.find_spark_home import _find_spark_home

    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True
    except OSError:
        return False


#: the launcher's classpath inputs besides the conf dir and ``$SPARK_HOME/jars``
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)


def _classpath_extra(submit_args: str) -> bool:
    """Would the launch put anything on the driver's classpath besides the
    conf dir and the jars: an environment input of Spark's launcher, or a
    driver class path in ``PYSPARK_SUBMIT_ARGS``? The archive key covers
    neither, and an archive dumped on another classpath is never mapped."""
    if any(os.environ.get(var) for var in _CLASSPATH_ENV):
        return True
    return "extraClassPath" in submit_args or "--driver-class-path" in submit_args


def _jvm_launch_conf() -> tuple[str, str] | None:
    """``(driver java options, conf dir)`` for a driver JVM launched now, or
    None to launch it as Spark would by itself (the rules are
    :func:`_jvm_launch`'s). When it asks for a new archive, it first
    deletes every archive in :data:`JVM_ARCHIVE_DIR`: an incomplete one at
    the key path, and those of other keys."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # a JVM is up already, and its flags are fixed
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "spark.driver.defaultJavaOptions" in submit_args:
        return None
    if not _conf_dir_inert() or _classpath_extra(submit_args):
        return None
    archive = _jvm_archive_path()
    if archive is None or any(c.isspace() for c in archive):
        return None  # Spark splits the options string on whitespace
    conf_dir = _archive_conf_dir()
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(JVM_ARCHIVE_DIR, os.W_OK):
            return None
        if _archive_complete(archive):
            return f"-XX:SharedArchiveFile={archive} -Xshare:auto", conf_dir
        # the one being replaced, and those of an earlier JDK or jar set
        for old in glob.glob(os.path.join(JVM_ARCHIVE_DIR, "*.jsa")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(old)
    except OSError:
        return None
    # the dump warns once per class it leaves out (~600 lines); errors still show
    return f"-XX:ArchiveClassesAtExit={archive} -Xlog:cds=error", conf_dir


@contextlib.contextmanager
def _jvm_launch(builder: SparkSession.Builder) -> Iterator[None]:
    """Let a driver JVM that ``builder.getOrCreate()`` launches in the
    ``with`` body start from a JDK 17 dynamic class-data-sharing (CDS)
    archive: it maps the classes an earlier driver JVM loaded instead of
    loading them from the jars again. Measured on 4 vCPUs, session start
    went from 7.4-7.7 s to 3.4-4.0 s, and the first
    ``spark.range(10).count()`` from 3.3 s to 1.5-1.7 s.

    - With a complete archive for this JDK and jar set
      (:func:`_jvm_archive_path`), the JVM starts with
      ``-XX:SharedArchiveFile=<archive> -Xshare:auto``. Under ``auto`` an
      archive the JVM cannot use is ignored, never fatal.
    - Without one, it starts with ``-XX:ArchiveClassesAtExit=<archive>`` and
      writes the archive when it exits cleanly (``spark.stop()``, then EOF
      on the gateway's stdin, which a Python exit gives). That one process
      starts slower, and its exit takes 10-15 s to write 140-215 MB. A file
      without the magic (a dump killed midway) is deleted first, so a dump
      cut short cannot disable the archive for good; so are the archives of
      other keys, which a JDK or jar change leaves behind.
    - The options go in ``spark.driver.defaultJavaOptions``;
      ``spark.driver.extraJavaOptions`` adds to them rather than replacing
      them. Nothing is added when a JVM is up already, when the caller set
      that key in ``PYSPARK_SUBMIT_ARGS``, or when :data:`JVM_ARCHIVE_DIR`
      is not writable.
    - JDK 17 CDS refuses a non-empty directory on the classpath, and the
      classpath must match between dump and use. Spark's launcher puts the
      conf dir first on it, so the launch points ``SPARK_CONF_DIR`` at the
      fixed empty ``.jvm_archive/conf/``, but only when the real conf dir
      holds nothing Spark reads (only ``*.template`` files, or no dir);
      otherwise no archive is used. ``os.environ`` is restored when the body
      exits; a process another thread starts meanwhile sees the swap.
    - The key covers the jars but no other classpath input, so no archive is
      used when the launch has one (:func:`_classpath_extra`).

    A deployment bakes the archive into its image by starting one session
    and stopping it cleanly."""
    conf = _jvm_launch_conf()
    if conf is None:
        yield
        return
    java_opts, conf_dir = conf
    builder.config("spark.driver.defaultJavaOptions", java_opts)
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prev


def _ensure_read_confs(spark: SparkSession) -> None:
    """Runtime-settable read confs the suite depends on, applied defensively:
    the driver harness passes its own SparkSession built without our session
    defaults. ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark rejects
    unless nanosAsLong is set; UTC keeps timestamp comparisons oracle-stable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` for the ``with`` body, then
    put back what was there before: the old value, or no value at all if the
    key was unset. The restore runs when the body raises too.

    The one owner of temporary session-conf changes in the library: a query
    that needs a conf for its own run goes through here, so it leaves the
    session as it found it.

    Concurrency caveat: the conf is SESSION-global for the body's lifetime,
    so any query issued concurrently on the same session sees the scoped
    value. The suite and the driver run queries strictly sequentially (one
    query per call), which this relies on; a concurrent deployment should
    run the scoped work on its own ``spark.newSession()`` clone instead."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


#: session confs that change the schema Spark's parquet inference returns;
#: their values are part of a table record's key
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


@dataclass(frozen=True)
class TableFiles:
    """The file part of a table's metadata record: each data file as
    ``(absolute path, size, mtime_ns)``. Needs no SparkSession, so the
    oracle generators and the staleness keys read it too."""

    files: tuple[tuple[str, int, int], ...]

    @property
    def signature(self) -> tuple[tuple[str, int, int], ...]:
        """``(name, size, mtime_ns)`` of each data file (sorted by name for
        a table): it changes whenever the table's bytes could have."""
        return tuple((os.path.basename(p), size, mtime) for p, size, mtime in self.files)

    def footer_rows(self) -> list[int]:
        """Footer row count of each data file, read once per file vintage."""
        return [_footer_rows(*f) for f in self.files]

    @property
    def rows(self) -> int:
        return sum(self.footer_rows())


#: absolute file path -> (size, mtime_ns, footer rows)
_FOOTERS: dict[str, tuple[int, int, int]] = {}


def _footer_rows(path: str, size: int, mtime_ns: int) -> int:
    hit = _FOOTERS.get(path)
    if hit is not None and hit[:2] == (size, mtime_ns):
        return hit[2]
    import pyarrow.parquet as pq

    rows = pq.read_metadata(path).num_rows
    _FOOTERS[path] = (size, mtime_ns, rows)
    return rows


def files_meta(paths: list[str]) -> TableFiles:
    """:class:`TableFiles` over the given data files, in the given order."""
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((os.path.abspath(p), st.st_size, st.st_mtime_ns))
    return TableFiles(tuple(out))


def table_files(path: str) -> TableFiles:
    """:class:`TableFiles` of a parquet table: the ``*.parquet`` files of a
    directory (by name), or the file itself. ``os.stat`` on a directory
    succeeds too, but an in-place rewrite of a part file leaves the
    directory's own stat unchanged, so a directory is always listed."""
    if os.path.isdir(path):
        names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return files_meta([os.path.join(path, f) for f in names])
    return files_meta([path])


@dataclass(frozen=True)
class TableMeta:
    """A table's metadata record: its files, the inference confs it was
    resolved under, and the ``StructType`` Spark itself inferred (never
    pyarrow's, whose NTZ and nanos typing differs from Spark's)."""

    path: str
    files: TableFiles
    confs: tuple[str | None, ...]
    schema: StructType


#: absolute table path -> its record; one entry per distinct path
_TABLE_META: dict[str, TableMeta] = {}


def table_meta(spark: SparkSession, path: str) -> TableMeta:
    """The metadata record of the parquet table at ``path``, resolved once.

    The record is replaced when the table's stat signature or the value of
    any :data:`INFERENCE_CONFS` key changes; the files are stat'ed BEFORE a
    miss infers, so a rewrite racing the inference leaves an older signature
    and the next call re-infers. A path this process cannot stat (missing,
    or a remote URI) is inferred on every call and never recorded — Spark
    then raises or reads exactly as a plain ``spark.read.parquet`` would.
    Two threads missing at once may both infer; each stores a record whose
    key matches its schema, so the cache stays consistent without a lock.

    Mirrors the reference resolving a schema once at
    ``ctx.register_parquet`` (``examples/dataframe/query.rs:118-123``)."""
    confs = tuple(spark.conf.get(k, None) for k in INFERENCE_CONFS)
    if not os.path.exists(path):
        return TableMeta(path, TableFiles(()), confs, spark.read.parquet(path).schema)
    path = os.path.abspath(path)
    files = table_files(path)
    meta = _TABLE_META.get(path)
    if meta is None or meta.files != files or meta.confs != confs:
        meta = TableMeta(path, files, confs, spark.read.parquet(path).schema)
        _TABLE_META[path] = meta
    return meta


def star_meta(spark: SparkSession, sf_dir: str, name: str) -> TableMeta:
    """The record of star table ``name`` under ``sf_dir``, resolved under
    the suite's read confs (:func:`_ensure_read_confs`)."""
    _ensure_read_confs(spark)
    return table_meta(spark, os.path.join(sf_dir, f"{name}.parquet"))


#: the session attribute holding its resolved star relations:
#: absolute table path -> (the record it was read under, the DataFrame)
_FRAMES_ATTR = "_sparkfusion_frames"


def table(spark: SparkSession, sf_dir: str, name: str):
    """Read one star-schema table as a DataFrame (reference ``read_parquet``,
    ``src/utils/datasets.rs:184-185``), with the schema from its metadata
    record: no inference job once the record is warm, and the same relation
    shape on a hit and a miss, so cached-plan lookups keep matching.

    The same session and the same record give the same DataFrame: the
    relation is resolved in the JVM once (~25 ms a call), as the reference
    resolves a registered table once. A new record (a rewrite, new
    inference confs) builds a new frame in its place. A path the records do
    not hold (missing or remote) is read anew on every call. The frames hang
    off the session object, so no other session sees them and they go with
    it. A frame is immutable, so sharing it is safe; a caller joining a
    table to itself aliases both sides, as with any self-join."""
    meta = star_meta(spark, sf_dir, name)
    if _TABLE_META.get(meta.path) is not meta:
        return spark.read.schema(meta.schema).parquet(meta.path)
    frames = spark.__dict__.setdefault(_FRAMES_ATTR, {})
    hit = frames.get(meta.path)
    if hit is not None and hit[0] is meta:
        return hit[1]
    df = spark.read.schema(meta.schema).parquet(meta.path)
    frames[meta.path] = (meta, df)
    return df


def star_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run ``query`` with each ``{name}`` field bound to star table ``name``
    (:func:`table`) by value.

    ``spark.sql``'s formatter names each frame ``_pyspark_<uuid>`` and drops
    that view when the call returns, after analysis has bound the plan, so
    the caller's catalog is left as it was and a caller's own view named
    like a star table is never read in its place. Literal braces in
    ``query`` are written doubled. Mirrors the reference resolving a table
    once and running SQL over it (``ctx.register_parquet`` + ``ctx.sql``,
    ``examples/dataframe/query.rs:118-173``)."""
    names = {field for _, field, _, _ in string.Formatter().parse(query) if field}
    return spark.sql(query, **{name: table(spark, sf_dir, name) for name in names})


@contextlib.contextmanager
def scoped_function(spark: SparkSession, fn) -> Iterator[str]:
    """Register the UDF or UDTF ``fn`` under a fresh ``_sparkfusion_<uuid>``
    name for the ``with`` body, then drop it. The body formats the name into
    its SQL; a frame it returns from :func:`star_sql` bound the function at
    analysis and still runs after the drop, and a caller's own function of
    the usual name is neither replaced nor read in its place."""
    from pyspark.sql.udtf import UserDefinedTableFunction

    name = f"_sparkfusion_{uuid.uuid4().hex}"
    registry = spark.udtf if isinstance(fn, UserDefinedTableFunction) else spark.udf
    registry.register(name, fn)
    try:
        yield name
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")


def ts_column(dtype: str) -> Column:
    """``events.ts`` as a µs TIMESTAMP column, given the dtype it arrived as.

    The driver has shipped ``events.parquet`` with ``ts`` as both parquet
    TIMESTAMP(NANOS) (reads as epoch-ns BIGINT under ``nanosAsLong``) and
    plain ``timestamp[us]`` (reads as TIMESTAMP_NTZ / TIMESTAMP), so callers
    pass ``dict(df.dtypes)["ts"]`` and this picks the conversion. Policy
    (SURVEY.md §7 risk 2): ns→µs is integer truncation; NTZ→TIMESTAMP is
    value-preserving because the session tz is UTC."""
    from pyspark.sql import functions as F

    if dtype in ("bigint", "long"):
        # integer div — float division can round ns/1000 across the µs boundary
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def events_with_ts(spark: SparkSession, sf_dir: str):
    """``events`` with ``ts`` normalized to a usable ``timestamp`` column (µs
    precision, UTC session, via :func:`ts_column`) plus an integer
    epoch-nanos ``ts_ns``.

    Dtype-adaptive, so the helper works under any session + any testdata
    vintage: exact nanos are preserved in ``ts_ns`` when the footer carries
    them, and derived from the µs timestamp otherwise.
    """
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    dtype = dict(ev.dtypes)["ts"]
    ts = ts_column(dtype)
    if dtype in ("bigint", "long"):
        ts_ns = F.col("ts")  # exact nanos, before ts_column truncates them
    else:
        ts_ns = F.unix_micros(ts) * F.lit(1000)
    return ev.withColumn("ts_ns", ts_ns).withColumn("ts", ts)
