"""How an operator materializes an intermediate frame — the one place.

Two primitives, and no operator module calls ``localCheckpoint`` or
``persist`` itself (tests/test_stagecache.py guards it):

* ``pin(df)`` — a lazy local checkpoint. The first action that reads the
  frame computes it once and cuts its lineage there; every later reader
  (a fan-out consumer, the next round of an iterative loop) reads the
  stored blocks instead of re-running the plan. Call sites reach it as
  ``stagecache.pin``, so a different policy (e.g. a reliable checkpoint
  for clusters that lose executors) is a change to this one function.
* ``materialize_stage(name, df)`` — a tracked MEMORY_AND_DISK persist for
  fan-out DAGs whose consumers cannot share one exchange: per-consumer
  column pruning diverges the exchange subtrees, so Catalyst's
  ReuseExchange misses and the stage re-executes once per consumer
  (measured: the MinHash signature UDF appeared 4x in the executed plan).
  At most ONE outstanding handle per stage name — a re-invocation
  releases the previous one, so long-lived sessions never accumulate
  cached blocks — and ``release_stages()`` drops everything eagerly.
"""

from __future__ import annotations

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

_STAGES: dict[str, DataFrame] = {}


def pin(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage at its first execution (lazy local checkpoint)."""
    return df.localCheckpoint(eager=False)


def _release(df: DataFrame) -> None:
    # A handle from a stopped SparkContext has no blocks left to free, and
    # unpersist on it fails inside the dead context's BlockManagerMaster.
    if df.sparkSession.sparkContext is SparkContext._active_spark_context:
        df.unpersist()


def materialize_stage(name: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK as stage ``name``, releasing any
    previous materialization of the same stage first."""
    old = _STAGES.pop(name, None)
    if old is not None:
        _release(old)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _STAGES[name] = df
    return df


def release_stages() -> None:
    """Unpersist every outstanding stage materialization."""
    while _STAGES:
        _release(_STAGES.popitem()[1])
