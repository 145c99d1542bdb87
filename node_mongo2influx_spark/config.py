"""Engine configuration.

Mirrors the reference's configuration model (/root/reference/index.js:25-54)
with two deliberate fixes recorded in SURVEY.md §4.3:

* explicit-None semantics — the reference silently ignores falsy overrides
  (``if (options.limit)`` guards, index.js:74-77), so a falsy option
  (``false``, ``0``) could never be set. Here every field set explicitly
  wins, including falsy values.
* instance-scoped — the reference keeps all state module-global
  (index.js:21-23, 56-58); two engines in one process would share counters.
  ``EngineConfig`` is a plain dataclass owned by its ``Engine``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    """Configuration for :class:`~node_mongo2influx_spark.engine.Engine`.

    Defaults follow the reference where a default exists
    (/root/reference/index.js:47-52), adjusted for Spark where the knob maps
    onto a different mechanism.
    """

    # -- parallelism ------------------------------------------------------
    #: Max tables migrated concurrently (reference `limit`, index.js:50 — the
    #: code default is 2; README.md:29 claims 4; code wins). Each table is an
    #: independent Spark job submitted from a driver thread pool; Spark's
    #: scheduler interleaves their tasks across executors.
    table_concurrency: int = 2

    # -- modes ------------------------------------------------------------
    #: Truncate each destination series before loading (reference
    #: `emptySeries`, index.js:52, delete at :328).
    empty_series: bool = False

    #: Abort the whole migration on the first table failure — the
    #: reference's behavior (async.eachLimit error semantics,
    #: index.js:294-316). Default False: failures are isolated per table
    #: and reported (partial progress is durable either way).
    fail_fast: bool = False

    # -- spark tuning -------------------------------------------------------
    #: Extra SparkSession configs applied by :meth:`Engine.builder` (e.g.
    #: ``spark.sql.shuffle.partitions``, 32 unless set here).
    spark_conf: dict[str, str] = field(default_factory=dict)

    def merged(self, **overrides: object) -> "EngineConfig":
        """Return a copy with the given fields replaced.

        Unlike the reference's truthiness-guarded merge (index.js:74-77),
        an explicitly passed falsy value (0, False, "") is honored; only
        *omitted* keys keep their defaults.
        """
        allowed = {f for f in self.__dataclass_fields__}  # noqa: C416
        unknown = set(overrides) - allowed
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        import dataclasses

        return dataclasses.replace(self, **overrides)  # type: ignore[arg-type]
