"""SparkSession factory tuned for the engine.

Scale notes (the settings below are chosen for a 1000-executor /
100 TB deployment and merely *work* on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace most manual
  tuning at scale.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
  AQE coalesces down. On a real cluster set it ~2-3x total cores.
- Arrow enabled: every pandas UDF moves data in Arrow batches
  (input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are stable across machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _strip_scheme(p: str) -> str:
    """file:/x, file:///x -> /x; other schemes (hdfs://...) untouched."""
    if p.startswith("file:"):
        return "/" + p[len("file:"):].lstrip("/")
    return p


def ensure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Set the context's reliable checkpoint dir exactly once.

    ``setCheckpointDir`` stores ``<scheme><dir>/<random-uuid>`` so an
    equality guard never matches and every lineage cut would mint a
    fresh uuid subdir; the r4 substring-containment guard
    false-positived when the configured dir was a string prefix of the
    stored one (``/tmp/ck`` vs ``/tmp/ck2``). Strip the scheme and
    compare the stored path's PARENT exactly.
    """
    cur = sc.getCheckpointDir()
    want = _strip_scheme(checkpoint_dir).rstrip("/")
    if cur is not None:
        if os.path.dirname(_strip_scheme(cur).rstrip("/")) == want:
            return
    sc.setCheckpointDir(checkpoint_dir)


def get_spark(
    app: str = "dbt_customer360_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cores`` may be an int (-> ``local[n]``) or a full master string.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = max(2 * n, 32)

    # Scan-parallelism floor: a small table often lands in ONE split
    # (file < maxPartitionBytes), so any per-row-heavy operator chained
    # before the first exchange runs single-task. The floor divides
    # large files into more byte ranges when the scan would otherwise
    # produce fewer splits than cores; big inputs (>> cores splits)
    # are unaffected, so the setting is scale-adaptive, not a local
    # tune. (Row-group granularity still caps the effect for single-
    # row-group files — spread_for_compute below covers those.)
    min_partition_num = None
    try:
        min_partition_num = int(cores)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        if isinstance(cores, str) and cores.startswith("local["):
            inner = cores[len("local["):-1]
            if inner.isdigit():
                min_partition_num = int(inner)
            elif inner == "*":
                min_partition_num = os.cpu_count() or None

    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # G1 lets eden grow to 60% of the heap and re-fills it from the
        # same regions, so the driver's resident heap is the largest
        # eden it has sized so far — set by how long the process ran
        # and how fast it allocated, not by its live data (a 2 GB heap
        # with ~180 MB live read 2.4 or 2.8 GB peak RSS on the same CDC
        # workload). A quarter-heap cap is reached within seconds, so
        # the footprint is steady; the young pauses scale with the live
        # data, which the cap does not change. extraJavaOptions are
        # appended after these, so a caller's flags still win.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=25",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (the legacy default) writes NO footer statistics, which
        # blinds manifest-level timestamp data skipping (LakeTable
        # read_where); TIMESTAMP_MICROS is the modern annotated type
        # with real min/max stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if min_partition_num:
        builder = builder.config(
            "spark.sql.files.minPartitionNum", str(min_partition_num)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_for_compute(df, factor: int = 1):
    """Round-robin repartition a small input up to the cluster's
    parallelism so per-row-heavy compute (signature UDFs, normalizer
    chains, distance fan-outs) is not serialized on the scan's input
    splits — a single-row-group parquet file is ONE task no matter the
    split settings, and everything before the first exchange then runs
    on one core. No-op when the input already has at least
    defaultParallelism partitions (any real at-scale table), so this
    never adds a shuffle to the 100 TB path. Project to the needed
    columns BEFORE calling, so only those bytes are shuffled."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk, stay lazy
        return df
    if cur >= target:
        return df
    return df.repartition(target)


def local_df(spark: SparkSession, rows: list, ddl: str):
    """JVM-backed local DataFrame from driver-side rows.

    ``createDataFrame(list_of_tuples)`` yields a Python-RDD-backed plan:
    every ACTION on it round-trips a Python worker per task — measured
    ~5s per 1-row WRITE job in this environment (the write path defeats
    worker reuse), which taxed every lineage append and every
    fixture-fed query. Routing the same rows through pandas + Arrow
    produces a JVM ``LocalRelation`` (warm writes ~0.2s): all-object
    dtype keeps None as proper nulls, and the explicit DDL schema drives
    Arrow's type coercion so nullable longs never become float NaNs.
    ``createDataFrame`` skips Arrow for an EMPTY pandas frame, so no
    rows go in as an empty Arrow table instead: an empty
    ``LocalRelation``, which the optimizer drops from a union.
    """
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    if not rows:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema=schema)
    pdf = pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema=schema)
