"""SparkSession builder with the engine's standard configuration, and
the session's one materialization scope.

Tuned for correctness-at-scale defaults: AQE on (runtime re-plan +
skew-join splitting), Arrow on (every Python-side stage is a vectorized
pandas UDF, never per-row Python — BASELINE.json input_hint).

Materialization scope — a cache that outlives the function that made
it goes through one of three paths:
  * ``pin`` / ``release``: a frame read by several branches of a lazy
    result stays persisted until the loop driver (``crawl_round``)
    releases everything pinned, once its writes have run;
  * ``materialize``: the one-shot close — compute the result now
    (localCheckpoint: its blocks are ContextCleaner-managed, freed when
    the result is GC'd) and unpersist the intermediates it read, so
    repeated one-shot calls (driver gate, bench loops) pin nothing;
  * ``memo``: one value per (session, tag, params, input identity) —
    trained quantizers, scan partition counts, the shared pair list.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "cola_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship: bool = True,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if ship:
        # executor Python workers must be able to import cola_spark from
        # inside pandas UDFs regardless of cwd — same concern cola solves
        # by zipping + pushing the job dir (see cola_spark.shipping)
        from cola_spark.shipping import ship_package

        ship_package(spark)
    return spark


_PINNED: list = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the next ``release()``."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release() -> None:
    """Unpersist every pinned frame."""
    while _PINNED:
        _PINNED.pop().unpersist()


def materialize(result: DataFrame, handles: list) -> DataFrame:
    """Compute ``result`` now, then unpersist the cached ``handles`` it
    was built from and drop them from the pin list (global_rank pins
    its range frame on both of its paths)."""
    out = result.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    _PINNED[:] = [p for p in _PINNED if all(p is not h for h in handles)]
    return out


# Keyed by a WEAK session reference: id() of a GC'd session can be
# reused by a new one, aliasing its entries; the weak key drops them
# with the session. Inside, the key carries the input's file listing
# next to its plan hash: an overwrite under the same path keeps the
# plan hash but lists new files, so it misses instead of serving the
# old value. Values are small (collected rows, a partition count, an
# eagerly materialized pair list); _MEMO_CAP bounds the entries (the
# driver gate at sf0.01 builds 17).
_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MEMO_CAP = 64


def memo(df: DataFrame, tag: str, params: tuple, build):
    """``build()``, computed once per (session, tag, params, input of
    ``df``); the cache is emptied when it reaches _MEMO_CAP entries."""
    per = _MEMO.setdefault(df.sparkSession, {})
    key = (tag, params, df.semanticHash(), tuple(sorted(df.inputFiles())))
    if key not in per:
        if len(per) >= _MEMO_CAP:
            per.clear()
        per[key] = build()
    return per[key]
