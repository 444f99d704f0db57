"""SparkSession construction profiles.

The reference pins its session config in
``create_iceberg_tables.py:120-131`` (Glue catalog + Iceberg runtime +
S3FileIO + DynamoDB lock).  We keep that wiring as the *cloud* profile
(config only — never exercised in tests, no AWS here) and add a *local*
profile used by tests/bench: ``local[N]`` master, AQE on, UTC session
timezone, fixed shuffle partitions for determinism.

Iceberg support is capability-gated: if the Iceberg Spark runtime JAR is
on the classpath (env ``SPARK_GRAFT_ICEBERG_JAR``) we configure a local
hadoop-type Iceberg catalog; otherwise the engine falls back to the
built-in ``spark_catalog`` with parquet tables (same DDL surface minus
format-version properties — see ``catalog.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def iceberg_jar() -> str | None:
    """Path to the Iceberg Spark runtime JAR, if one is available."""
    jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if jar and os.path.exists(jar):
        return jar
    return None


def build_session_builder(
    app_name: str = "aws-iceberg-automation-spark",
    profile: str = "local",
    cpus: str | int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Assemble (but do not start) the SparkSession builder for a profile.

    Split out from :func:`get_spark` so the cloud profile's config can be
    asserted key-for-key against the reference
    (create_iceberg_tables.py:120-131) without AWS or the Iceberg JARs —
    the config-echo test reads the accumulated options off the builder.

    local profile notes for 100 TB posture: AQE handles runtime partition
    coalescing and skew-join splitting; ``spark.sql.shuffle.partitions``
    is a fixed small number for local determinism — on a real cluster set
    it ~2-3× total cores (AQE coalesces down).
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = SparkSession.builder.appName(app_name)
    if profile == "local":
        b = b.master(f"local[{cpus}]")
        b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Write streaming checkpoints (offset, commit and file-source
        # logs, state-store deltas and checksums) through the
        # FileSystem API, not Spark's default FileContext one. Without
        # native libhadoop, the local filesystem forks a `readlink`
        # child process for every link-aware status, and the
        # FileContext rename asks for one on both paths. On 4 cores
        # (Java 17) this cut q76's state-store commits from 0.5-0.9 s
        # to 15-60 ms per microbatch, and each offset/commit log write
        # from 25-60 ms to 6-10 ms. On `file:` both managers rename
        # check-then-move, refuse to overwrite an existing batch file,
        # and keep checkpoint checksums on.
        b = b.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep scalar Python UDFs (rare) Arrow-batched rather than pickled rows
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # same for Python UDTFs (table functions)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Compile each generated class once per session. Spark's default
        # 100-entry codegen cache cannot hold the engine's working set:
        # the 17 bench queries generate about 300 classes per pass and
        # the lakehouse lifecycle about 115, so at 100 every query
        # recompiled every class on every call (2.5-3.3 s of Janino time
        # in a ~12 s sf0.01 pass on 4 cores). 1024 gives ~3x headroom.
        # bench.py hid this: it runs each query three times in a row, so
        # its 2nd and 3rd runs hit the cache. Static conf: builder only.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    jar = iceberg_jar()
    if jar and warehouse:
        # Local hadoop-type Iceberg catalog: identical SQL surface to the
        # reference's Glue catalog (create_iceberg_tables.py:121-128)
        # without any AWS dependency.
        b = (
            b.config("spark.jars", jar)
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    elif warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
    if profile == "cloud":
        # Key-for-key mirror of the reference's production wiring
        # (create_iceberg_tables.py:120-131): Glue catalog impl, S3FileIO,
        # warehouse path, DynamoDB lock manager + lock table, Iceberg SQL
        # extensions, default catalog, and Hive support.  Requires the
        # Iceberg + AWS bundle JARs and AWS credentials — config only,
        # never exercised in tests (asserted by the config-echo test in
        # tests/test_session.py, no AWS needed).
        wh = (
            warehouse
            or os.environ.get("SPARK_GRAFT_CLOUD_WAREHOUSE", "s3://iceberg-warehouse/")
        )
        lock_table = os.environ.get("SPARK_GRAFT_LOCK_TABLE", "iceberg_lock_table")
        b = (
            b.config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
            .config("spark.sql.catalog.glue_catalog", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.glue_catalog.catalog-impl",
                    "org.apache.iceberg.aws.glue.GlueCatalog")
            .config("spark.sql.catalog.glue_catalog.io-impl",
                    "org.apache.iceberg.aws.s3.S3FileIO")
            .config("spark.sql.catalog.glue_catalog.warehouse", wh)
            .config("spark.sql.catalog.glue_catalog.lock-impl",
                    "org.apache.iceberg.aws.glue.DynamoLockManager")
            .config("spark.sql.catalog.glue_catalog.lock.table", lock_table)
            .config("spark.sql.defaultCatalog", "glue_catalog")
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def get_spark(
    app_name: str = "aws-iceberg-automation-spark",
    profile: str = "local",
    cpus: str | int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession for the given profile."""
    return build_session_builder(
        app_name=app_name,
        profile=profile,
        cpus=cpus,
        warehouse=warehouse,
        extra_conf=extra_conf,
    ).getOrCreate()
