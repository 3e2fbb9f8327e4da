"""Iceberg session seam (SURVEY §7.4.7): the filesystem probe for the
runtime jar and the live session must agree on whether the Iceberg
catalog is usable."""

from kg.iceberg import find_iceberg_jar, iceberg_enabled


def test_probe_is_consistent(spark):
    # a session built without the jar must not claim the catalog works
    if find_iceberg_jar() is None:
        assert not iceberg_enabled(spark)
