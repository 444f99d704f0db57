"""Config-echo tests for the session profiles.

The cloud profile must mirror the reference's production wiring
key-for-key (reference ``create_iceberg_tables.py:120-131``: Glue
catalog + S3FileIO + warehouse + DynamoDB lock manager/table + Iceberg
SQL extensions + default catalog + Hive support).  No AWS or Iceberg
JARs are needed: we assemble the builder and read the accumulated
options without ever calling ``getOrCreate()``. One test checks the
local profile's streaming checkpoint manager on the live test session
(no fixture data).
"""

from __future__ import annotations

import pytest

from aws_iceberg_automation_spark.session import build_session_builder

# The exact key->value set the reference pins in
# create_iceberg_tables.py:120-131 (warehouse/lock.table values are
# deployment-specific there; we assert key presence + impl-class values).
_REFERENCE_PINNED = {
    "spark.sql.catalog.glue_catalog": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.glue_catalog.catalog-impl": "org.apache.iceberg.aws.glue.GlueCatalog",
    "spark.sql.catalog.glue_catalog.io-impl": "org.apache.iceberg.aws.s3.S3FileIO",
    "spark.sql.catalog.glue_catalog.lock-impl": "org.apache.iceberg.aws.glue.DynamoLockManager",
    "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "spark.sql.defaultCatalog": "glue_catalog",
}
_REFERENCE_KEY_ONLY = {
    "spark.sql.catalog.glue_catalog.warehouse",
    "spark.sql.catalog.glue_catalog.lock.table",
}


def _options(builder) -> dict[str, str]:
    # SparkSession.Builder accumulates config in ``_options`` before start.
    return dict(builder._options)


def test_cloud_profile_matches_reference_key_for_key() -> None:
    opts = _options(build_session_builder(profile="cloud"))
    for key, value in _REFERENCE_PINNED.items():
        assert opts.get(key) == value, f"{key}: {opts.get(key)!r} != {value!r}"
    for key in _REFERENCE_KEY_ONLY:
        assert key in opts and opts[key], f"missing {key}"
    # enableHiveSupport() == reference line 130
    assert opts.get("spark.sql.catalogImplementation") == "hive"


def test_cloud_profile_warehouse_override() -> None:
    opts = _options(
        build_session_builder(profile="cloud", warehouse="s3://my-bucket/wh/")
    )
    assert opts["spark.sql.catalog.glue_catalog.warehouse"] == "s3://my-bucket/wh/"


def test_local_profile_has_no_cloud_keys() -> None:
    opts = _options(build_session_builder(profile="local"))
    assert "spark.sql.catalog.glue_catalog" not in opts
    assert opts.get("spark.sql.catalogImplementation") != "hive"
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.session.timeZone"] == "UTC"


def test_both_profiles_size_the_codegen_cache() -> None:
    # Static conf: it only takes effect when set on the builder.
    for profile in ("local", "cloud"):
        opts = _options(build_session_builder(profile=profile))
        assert opts.get("spark.sql.codegen.cache.maxEntries") == "1024", profile


_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_local_profile_checkpoints_through_the_filesystem_manager() -> None:
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert _options(build_session_builder(profile="local"))[key] == _FS_CHECKPOINT_MANAGER
    assert key not in _options(build_session_builder(profile="cloud"))


def test_live_checkpoint_manager_refuses_to_overwrite_a_batch_file(spark, tmp_path) -> None:
    """The running session resolves the FileSystem-based manager (this
    fails loudly if a Spark upgrade moves its package again), and a
    second atomic write of an existing checkpoint file is refused on
    close with the first content kept."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        root, conf
    )
    assert manager.getClass().getName() == _FS_CHECKPOINT_MANAGER

    manager.mkdirs(root)
    batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt" / "0"))
    out = manager.createAtomic(batch, False)
    out.write(b"first")
    out.close()
    again = manager.createAtomic(batch, False)
    again.write(b"second")
    with pytest.raises(Py4JJavaError) as err:
        again.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "ckpt" / "0").read_bytes() == b"first"
