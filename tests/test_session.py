"""Session conf behavior: the explicit shuffle-partitions pin must
survive apply_runtime_confs (ADVICE r2: registry query calls were
silently resetting it to the default)."""

from __future__ import annotations

from db_cdc_poc_spark import session
from db_cdc_poc_spark.session import _SHUFFLE_PIN_CONF, apply_runtime_confs


def test_apply_runtime_confs_respects_pinned_shuffle_partitions(spark):
    before_pin = spark.conf.get(_SHUFFLE_PIN_CONF, None)
    before_val = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(_SHUFFLE_PIN_CONF, "7")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        # without a pin, the default is applied
        spark.conf.unset(_SHUFFLE_PIN_CONF)
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        if before_pin is not None:
            spark.conf.set(_SHUFFLE_PIN_CONF, before_pin)
        spark.conf.set("spark.sql.shuffle.partitions", before_val)


def test_default_driver_memory_is_capped_by_host_ram(monkeypatch):
    """Unset ``SPARK_GRAFT_DRIVER_MEM`` gives min(16g, half of physical
    RAM); a set value always wins."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096

    def host(gib):
        pages = (gib << 30) // page
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda k: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[k],
        )

    host(15)
    assert session.default_driver_memory() == f"{(15 << 10) // 2}m"
    host(32)
    assert session.default_driver_memory() == f"{16 << 10}m"
    host(256)
    assert session.default_driver_memory() == f"{16 << 10}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
