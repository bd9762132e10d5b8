"""session: the driver-memory default follows the host; per-call
PySpark call-site capture is off; the codegen cache holds a refresh cycle."""

import os

from data_ingestor_py_spark import session

GIB = 2**30


def _host(monkeypatch, phys_bytes):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_default_is_half_of_physical_memory(monkeypatch):
    _host(monkeypatch, 15 * GIB + 512 * 2**20)
    assert session.driver_memory() == "7g"


def test_default_is_capped_and_floored(monkeypatch):
    _host(monkeypatch, 256 * GIB)
    assert session.driver_memory() == "32g"
    _host(monkeypatch, GIB)
    assert session.driver_memory() == "1g"


def test_explicit_setting_wins(monkeypatch):
    _host(monkeypatch, 15 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_call_site_capture_is_off(spark):
    # every DataFrame/Column call would otherwise pay py4j round trips to
    # record its Python call site for error messages
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_codegen_cache_outlasts_a_refresh_cycle(spark):
    # at the default 100 entries a view refresh evicted the merge's
    # generated classes and both recompiled on every cycle
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
