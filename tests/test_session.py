"""Session-level performance guards."""

from __future__ import annotations

from bench import HEADLINE
from datastore_mapper_spark.registry import all_queries
from datastore_mapper_spark.session import codegen_compiles


def test_steady_state_headline_compiles_nothing(spark, sf_dir):
    """A second pass over the headline queries must find every
    generated class in Spark's codegen cache.  The set generates ~120
    classes, more than Spark's default cache of 100, so an unsized
    cache recompiles most of them on every pass.  A query that puts
    per-call values into generated code (a timestamp, a path, or a
    ``limit`` inside a codegen stage, whose counter Spark names from a
    JVM-wide sequence) recompiles at any cache size and fails here too."""
    specs = all_queries()
    for name in HEADLINE:
        specs[name].fn(spark, sf_dir).collect()
    recompiled = {}
    for name in HEADLINE:
        c0 = codegen_compiles(spark)
        specs[name].fn(spark, sf_dir).collect()
        n = codegen_compiles(spark) - c0
        if n:
            recompiled[name] = n
    assert recompiled == {}, f"steady-state recompiles: {recompiled}"


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` (which every Spark Python worker
    invocation runs) must not re-read an unchanged zip archive's
    directory, and must still re-read one that changed, so a module
    added to it imports."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import datastore_mapper_spark  # noqa: F401  (installs the guard)

    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_probe/__init__.py", "")
        z.writestr("zg_probe/a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    try:
        assert importlib.import_module("zg_probe.a").X == 1
        importlib.invalidate_caches()  # first sight: read and record it
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zg_probe/b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zg_probe.b").Y == 2
    finally:
        for name in ("zg_probe.b", "zg_probe.a", "zg_probe"):
            sys.modules.pop(name, None)
    from datastore_mapper_spark import _zipguard

    _zipguard.install()  # idempotent: wraps the original only once
    assert not hasattr(
        zipimport.zipimporter.invalidate_caches.__wrapped__, "__wrapped__")


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    """``get_session`` turns off PySpark's per-call origin capture: one
    ``F.col`` then costs 3 py4j round trips instead of 13 (an
    active-session lookup, a conf read, an origin set and clear)."""
    from pyspark.sql import functions as F

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real = client.send_command
    monkeypatch.setattr(client, "send_command",
                        lambda *a, **k: sent.append(a) or real(*a, **k))
    F.col("x")
    monkeypatch.undo()
    assert len(sent) < 5, f"{len(sent)} round trips for one F.col"


_TZ = "spark.sql.session.timeZone"


def test_configure_sets_confs_once_per_session(spark, monkeypatch):
    """A second ``configure`` on a configured session sets no conf: it
    only reads the required time zone."""
    from datastore_mapper_spark.session import configure

    configure(spark)
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real = client.send_command
    monkeypatch.setattr(client, "send_command",
                        lambda *a, **k: sent.append(a[0]) or real(*a, **k))
    configure(spark)
    monkeypatch.undo()
    # a py4j call is "c\n<target>\n<method>\n...": count RuntimeConfig.set
    sets = [c for c in sent if c.split("\n")[2:3] == ["set"]]
    assert not sets, f"{len(sets)} conf sets on a configured session"


def test_new_session_is_configured_by_load_tables(spark, sf_dir):
    """``newSession()`` keeps the application id but has its own SQL
    conf and temp views, so ``load_tables`` must configure it in full
    and hand it frames and views of its own, not the cached ones of the
    first session."""
    from datastore_mapper_spark.catalog import load_tables
    from datastore_mapper_spark.session import RUNTIME_CONFS

    load_tables(spark, sf_dir)
    other = spark.newSession()
    other.conf.set(_TZ, "America/Los_Angeles")
    other.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    tables = load_tables(other, sf_dir)
    assert other.conf.get(_TZ) == "UTC"
    assert {k: other.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
    assert tables["orders"].sparkSession is other
    assert other.sql("SELECT count(*) FROM orders").first()[0] > 0


def test_table_restores_a_drifted_time_zone(spark, sf_dir):
    """A configured session whose time zone was changed reads UTC
    again after its next ``table()`` call."""
    from datastore_mapper_spark.catalog import table

    spark.conf.set(_TZ, "America/Los_Angeles")
    try:
        table(spark, sf_dir, "orders")
        assert spark.conf.get(_TZ) == "UTC"
    finally:
        spark.conf.set(_TZ, "UTC")
