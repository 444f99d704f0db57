"""Config-echo tests for the session profiles.

The cloud profile must mirror the reference's production wiring
key-for-key (reference ``create_iceberg_tables.py:120-131``: Glue
catalog + S3FileIO + warehouse + DynamoDB lock manager/table + Iceberg
SQL extensions + default catalog + Hive support).  No AWS or Iceberg
JARs are needed: we assemble the builder and read the accumulated
options without ever calling ``getOrCreate()``.
"""

from __future__ import annotations

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
