"""SparkSession factory with scale-appropriate defaults.

Defaults target correctness tests on ``local[*]`` while keeping every
knob that matters on a real cluster explicit: AQE (runtime re-plan,
skew-join splitting, shuffle coalescing), Arrow for the few
``mapInPandas`` extension points, and a shuffle-partition count that
callers override per deployment (32 for the local harness; thousands
on a 100 TB cluster).

It also holds :func:`local_frame`, the one way the engine turns
request-sized Python values into a DataFrame, and :func:`in_list`,
the one way it turns them into an ``IN`` predicate.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "vector-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # harness events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long, loaders convert to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local-mode niceties; harmless on a cluster.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """Request-sized Python rows → a DataFrame over a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, ddl)`` parallelizes the rows into a
    Python RDD: every scan of the frame runs Python-worker tasks and
    the planner sees no size statistics for it. Handing the rows over
    as a ``pyarrow.Table`` instead makes Spark keep them in the plan as
    a local relation — scanned on the driver, broadcast-sized by
    construction, no lineage to cut. Values convert through the
    schema's Arrow types, so ``None`` cells and zero rows behave as
    with ``createDataFrame``. Meant for query terms, start vertices,
    mutation batches and literals — never for data-sized inputs.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([row[i] for row in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow), schema
    )


def in_list(col: str, values: Iterable[str | None]) -> Column:
    """``col IN (<values>)`` parsed from one SQL string: ``isin`` makes
    one JVM call per literal (about 0.5 ms each, 2 s for 5 000 ids).
    Null values never match, so they are left out; an empty list is
    ``false``. Like any SQL ``IN``, a null ``col`` gives null."""
    lits = [
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values
        if v is not None
    ]
    return F.expr(f"{col} IN ({','.join(lits)})") if lits else F.lit(False)
