"""Job/mapper facade — the reference's top-level user API, Spark-first.

datastore-mapper's user surface `[REF-mem: job.go, mapper.go,
server.go]` is: register a named job (kind + datastore query + a
per-entity ``Next(ctx, w, key)`` callback + output writer), start it
over HTTP, and the framework shards the keyspace, runs the map,
accumulates counters, rolls output files, and tracks a
pending→running→completed state machine with cursor checkpoints.

This module re-expresses that contract on Spark:

- the *job config* stays declarative (kind, filter, projection, map);
- the *execution substance* (sharding, retry, checkpointing, counter
  merge) is delegated to Spark — input splits parallelize the scan,
  lineage re-execution replaces slice cursors (SURVEY §2.A A9),
  ``df.observe`` replaces counter entities (A6), and
  ``maxRecordsPerFile`` replaces the rolled shard writer (A7);
- the per-entity map is a DataFrame→DataFrame transform so it stays
  inside Catalyst/codegen; a row-callback escape hatch would force
  Python row-at-a-time and is deliberately NOT offered (use
  ``mapInPandas`` via :mod:`..operators.multimodal` patterns when
  imperative logic is genuinely needed).

Datastore's query restriction (equality on any indexed props,
inequality on at most ONE property) can be enforced with
``strict=True`` for drop-in fidelity; default is Spark's strictly more
general predicate surface.
"""

from __future__ import annotations

import enum
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import table
from .sources.writer import rolled_write, write_partitioned


class JobState(enum.Enum):
    """Reference job state machine `[REF-mem: job.go]` — kept for API
    parity; Spark's scheduler owns the actual retry/progress logic."""

    PENDING = "pending"
    RUNNING = "running"
    COMPLETED = "completed"
    FAILED = "failed"


@dataclass
class Filter:
    """One Datastore-style property filter: ``(prop, op, value)``."""

    prop: str
    op: str  # one of =, !=, <, <=, >, >=
    value: object

    _OPS = {"=", "!=", "<", "<=", ">", ">="}

    def to_column(self, df: DataFrame) -> Column:
        if self.op not in self._OPS:
            raise ValueError(f"unsupported op {self.op!r}")
        c = df[self.prop]
        return {
            "=": c == self.value,
            "!=": c != self.value,
            "<": c < self.value,
            "<=": c <= self.value,
            ">": c > self.value,
            ">=": c >= self.value,
        }[self.op]


@dataclass
class JobConfig:
    """Declarative job definition ≙ the reference's registered job.

    kind            table/kind to scan (A1 full-kind scan)
    filters         list of :class:`Filter` (A3 filtered scan)
    projection      keys-only/projection scan (A4); None = all columns
    mapper          DataFrame→DataFrame transform (A5 per-entity map)
    counters        named aggregate expressions observed during the run
                    (A6); e.g. ``{"rows": F.count(F.lit(1))}``
    shards          explicit output shard count (A1); None = let input
                    splits/AQE decide (preferred — do not force a
                    shuffle the plan does not need)
    shard_key       range-shard key when ``shards`` is set
    strict          enforce Datastore's one-inequality-property rule
    """

    kind: str
    filters: list[Filter] = field(default_factory=list)
    projection: list[str] | None = None
    mapper: Callable[[DataFrame], DataFrame] | None = None
    counters: dict[str, Column] = field(default_factory=dict)
    shards: int | None = None
    shard_key: str | None = None
    strict: bool = False

    def validate(self) -> None:
        if self.strict:
            ineq = {f.prop for f in self.filters if f.op not in ("=",)}
            if len(ineq) > 1:
                raise ValueError(
                    "Datastore queries allow inequality filters on at "
                    f"most one property; got {sorted(ineq)}"
                )
        if self.shards is not None and not self.shard_key:
            raise ValueError("shards requires shard_key")


@dataclass
class JobResult:
    state: JobState
    counters: dict[str, object]
    output_path: str | None
    dataframe: DataFrame


class Job:
    """A runnable job. Build the DataFrame pipeline lazily so the whole
    scan→filter→project→map→write plan is optimized as one Catalyst
    plan (filters/projection reach the parquet scan — verified in
    tests/test_plans.py)."""

    def __init__(
        self,
        config: JobConfig,
        on_complete: Callable[["JobResult"], None] | None = None,
        on_fail: Callable[[Exception], None] | None = None,
    ):
        config.validate()
        self.config = config
        self.state = JobState.PENDING
        # lifecycle notification hooks (reference A10: completion hooks,
        # e.g. the BigQuery-load trigger, fired after the sink lands)
        self.on_complete = on_complete
        self.on_fail = on_fail

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply the job's filter→project→map pipeline to ``df``."""
        cfg = self.config
        for flt in cfg.filters:
            df = df.filter(flt.to_column(df))
        if cfg.projection is not None:
            df = df.select(*cfg.projection)
        if cfg.mapper is not None:
            df = cfg.mapper(df)
        return df

    def dataframe(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The job's logical plan, unexecuted."""
        cfg = self.config
        df = self.transform(table(spark, sf_dir, cfg.kind))
        if cfg.shards is not None:
            df = df.repartitionByRange(cfg.shards, cfg.shard_key)
        return df

    def _execute(
        self,
        build_df: Callable[[], DataFrame],
        output_path: str | None,
        output_format: str,
        partition_by: list[str] | None,
        max_records_per_file: int,
    ) -> JobResult:
        """Run the state machine around one Spark action: RUNNING →
        observe counters → sink (or count) → COMPLETED + ``on_complete``,
        with any failure flipping to FAILED + ``on_fail`` before
        re-raising.  Shared by :meth:`run` and
        :func:`run_per_namespace` so the lifecycle hooks fire
        identically for whole-keyspace and per-namespace runs."""
        self.state = JobState.RUNNING
        obs: Observation | None = None
        try:
            # plan construction can itself fail analysis (bad column in a
            # mapper) — that is a job failure too, so it lives in the try
            df = build_df()
            if self.config.counters:
                obs = Observation()
                df = df.observe(obs, *(
                    expr.alias(name)
                    for name, expr in self.config.counters.items()
                ))
            if output_path is not None:
                if partition_by:
                    write_partitioned(df, output_path, partition_by, output_format)
                else:
                    rolled_write(df, output_path, output_format, max_records_per_file)
            else:
                df.count()
        except Exception as exc:
            self.state = JobState.FAILED
            if self.on_fail is not None:
                self.on_fail(exc)
            raise
        self.state = JobState.COMPLETED
        result = JobResult(
            state=self.state,
            counters=dict(obs.get) if obs is not None else {},
            output_path=output_path,
            dataframe=df,
        )
        if self.on_complete is not None:
            self.on_complete(result)
        return result

    def run(
        self,
        spark: SparkSession,
        sf_dir: str,
        output_path: str | None = None,
        output_format: str = "parquet",
        partition_by: list[str] | None = None,
        max_records_per_file: int = 1_000_000,
    ) -> JobResult:
        """Execute: write rolled output (or count if no sink), return
        final state + counters. One Spark action total — counters ride
        the same job via ``observe``."""
        return self._execute(
            lambda: self.dataframe(spark, sf_dir),
            output_path,
            output_format,
            partition_by,
            max_records_per_file,
        )


# --- named-job registry (≙ server.go's mux of registered jobs) --------

_JOBS: dict[str, Job] = {}


def register_job(name: str, config: JobConfig, **job_kwargs) -> Job:
    """Register a named job, like the reference's init-time job
    registration; ``start()`` is the POST /mapper/start?name=... twin."""
    job = Job(config, **job_kwargs)
    _JOBS[name] = job
    return job


def start(name: str, spark: SparkSession, sf_dir: str, **run_kwargs) -> JobResult:
    return _JOBS[name].run(spark, sf_dir, **run_kwargs)


def default_counters() -> dict[str, Column]:
    """The reference's always-on per-job counters."""
    return {"entities_read": F.count(F.lit(1))}


def run_per_namespace(
    job: Job,
    spark: SparkSession,
    base_path: str,
    ns_col: str = "ns",
    output_base: str | None = None,
    output_format: str = "parquet",
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
) -> dict[str, JobResult]:
    """Namespace iteration (reference A2, iterator.go `[REF-mem]`): list
    the namespace partition directories of a Hive-partitioned layout,
    run ``job`` once per namespace, return results keyed by namespace.

    Each per-namespace read prunes to ONE directory (partition pruning,
    verified in tests/test_sources.py), exactly like the reference
    scoping each job run to one Datastore namespace.  Counters stay
    per-namespace, as the reference's namespace→job rollup did.  Every
    namespace goes through the SAME ``Job._execute`` state machine as a
    whole-keyspace run: ``on_complete`` fires after each namespace's
    sink lands, a failing namespace flips the job to FAILED, fires
    ``on_fail``, and re-raises (remaining namespaces do not run — the
    reference's job-level abort), and the run kwargs
    (``partition_by``/``max_records_per_file``/``output_format``)
    apply per namespace."""
    import os

    from .sources.reader import read_namespaced

    namespaces = sorted(
        entry.split("=", 1)[1]
        for entry in os.listdir(base_path)
        if "=" in entry
        and os.path.isdir(os.path.join(base_path, entry))
        and entry.startswith(f"{ns_col}=")
    )
    results: dict[str, JobResult] = {}
    for ns in namespaces:
        out = (
            os.path.join(output_base, f"{ns_col}={ns}")
            if output_base is not None
            else None
        )
        results[ns] = job._execute(
            lambda ns=ns: job.transform(
                read_namespaced(spark, base_path, ns, ns_col=ns_col)
            ),
            out,
            output_format,
            partition_by,
            max_records_per_file,
        )
    return results
