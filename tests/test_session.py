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
