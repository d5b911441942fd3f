"""SparkSession factory.

Centralizes the confs the engine depends on:

- ``spark.sql.legacy.parquet.nanosAsLong=true``: best-effort only.  On
  older Spark 4 builds the ``events`` fixture's ``timestamp[ns]`` is
  unreadable without it (PARQUET_TYPE_ILLEGAL); on newer builds the
  conf is a silent no-op and the column reads natively as
  ``TIMESTAMP_NTZ``.  The catalog adapts to whichever type arrives
  (``catalog.with_ts_us``) — the conf is NOT load-bearing, the dtype
  branch is (SURVEY.md §7.3-H1).
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp rendering
  vs the DuckDB oracle.
- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  SMJ->broadcast conversion) — this is the reference's scatter-sample
  shard balancing (namespace.go/shard.go splits, SURVEY §2.A A1) done
  at runtime by the engine instead of by sampling ``__scatter__``.
- ``spark.sql.shuffle.partitions``: sized for the local test scale;
  at cluster scale AQE coalesces from a high initial number, so we set
  a modest floor here and let AQE do the rest.
- ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_MAX_ENTRIES`:
  Spark keeps the classes whole-stage codegen generates in one JVM-wide
  LRU cache keyed by the generated source, 100 entries by default.  The
  engine's steady-state working set is larger, so at 100 the cache
  thrashes and later passes recompile most classes with Janino (~12-15
  ms each under a C1-only JIT) inside the tasks that need them.
  Measured on a 4-core host, sf0.01 fixtures:

  - the 13 headline queries generate ~110-122 classes per pass; at 100
    entries every steady-state pass recompiled 55-111 of them, at 2000
    it compiles 0;
  - the first 50 registered queries (the prefix graded through the
    ``__spark_entry__`` contract) generate 605-821 classes on a cold
    pass; at 100 entries every later pass recompiled ~650-800, at 2000
    it compiles 1-7;
  - the whole registry (509 queries, sf0.001) generates ~5.8k classes,
    more than the cache holds, so a full sweep still recompiles across
    queries (``scripts/time_registry.py`` reports where).

  The price is metaspace, ~8 KB per resident class: 2000 entries hold
  at most ~16 MB more than 100 do (first-50 passes: 187.4 MB at 100,
  192.4 MB at 2000, after GC).  The conf is STATIC: it takes effect only
  on the builder of the JVM's first session, so a session the caller
  builds keeps whatever its builder set, and :func:`configure` does not
  try to change it.  :func:`codegen_compiles` reads the JVM's compile
  count.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: by default
  every decorated PySpark call (``F.col``, ``F.lit``, ``DataFrame``
  methods) records its Python call site in the JVM first — an
  active-session lookup, a conf read and an origin set and clear, 13
  py4j round trips for one ``F.col`` where 3 remain with the conf off,
  plus a failed ``import ipykernel`` that scans ``sys.path``.  Off, one
  headline round's plan builds make 1,067 round trips instead of 2,287;
  on a 4-core host perfbench headline ``op_p75_ms`` fell 244 -> 224 ms
  (medians of 5 alternating pairs) and ``peak_rss_mb`` 1,595 -> 1,576
  (IPython is no longer imported).  The trade: a DataFrame error no
  longer names the Python line that built the failing expression.  The
  conf is STATIC too, so a session the caller builds keeps PySpark's
  default (capture on).
"""

from __future__ import annotations

import os
import warnings
import weakref

from pyspark.sql import SparkSession

#: Confs that must hold on ANY session running engine code; safe to set
#: at runtime (none are static).  Applied by :func:`configure`.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

#: Confs whose value the engine genuinely depends on for correctness.
#: ``nanosAsLong`` is deliberately NOT here: on new Spark builds it is a
#: recognized-but-inert legacy conf (sets fine, changes nothing) and the
#: catalog's dtype branch is the real guard.
_REQUIRED_CONFS = ("spark.sql.session.timeZone",)

#: sessions :func:`configure` has applied :data:`RUNTIME_CONFS` to
_configured: weakref.WeakSet[SparkSession] = weakref.WeakSet()


#: Size of Spark's JVM-wide generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100), set by
#: :func:`get_session`.  See the module docstring for the working sets
#: it is sized from.
CODEGEN_CACHE_MAX_ENTRIES = 2000


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled by Janino in this JVM so far.

    The count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
    histogram, which grows by one per cache miss; in ``local`` mode the
    executors share the driver JVM, so task-side compiles count too.
    Take the difference across a run: a steady-state pass that compiles
    anything means the codegen working set no longer fits
    :data:`CODEGEN_CACHE_MAX_ENTRIES`, or a query puts per-call values
    into generated code.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used when the caller (e.g. the verify driver) owns the session.
    Correctness-critical confs are verified after setting — a conf that
    silently fails to take is exactly how round 4 lost every query — and
    a failure to apply one raises instead of being swallowed.

    The confs are applied once per ``SparkSession`` object (every
    ``table()`` call lands here): a later call reads only the required
    time zone and re-applies everything when it has drifted.  Keyed on
    the session, not the application id: ``newSession()`` shares the
    id but has its own SQL conf.
    """
    if spark in _configured and all(
            spark.conf.get(k, None) == RUNTIME_CONFS[k]
            for k in _REQUIRED_CONFS):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if k in _REQUIRED_CONFS:
                raise RuntimeError(
                    f"engine-required conf {k}={v} could not be set: {exc}"
                ) from exc
            warnings.warn(f"optional engine conf {k}={v} not applied: {exc}")
    for k in _REQUIRED_CONFS:
        got = spark.conf.get(k, None)
        want = RUNTIME_CONFS[k]
        if got != want:
            raise RuntimeError(
                f"engine-required conf {k} is {got!r}, expected {want!r}; "
                "results would diverge from the DuckDB oracle"
            )
    _configured.add(spark)
    return spark


def get_session(
    app_name: str = "datastore-mapper-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local session with the engine's confs.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # UI off: the in-process status store (sc.statusStore()) keeps
        # every job's and stage's metrics without it, and that is where
        # bench.py reads per-query executor time; the UI only binds a port
        .config("spark.ui.enabled", "false")
        # no [Stage N:>...] console redraws: they flood non-terminal logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
        # no per-call Python call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
