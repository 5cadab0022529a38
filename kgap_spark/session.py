"""SparkSession factory with scale-oriented defaults.

The reference sizes its single store JVM at 4 CPUs / 8-16 GB heap
(reference: ``docker-compose.yml:21,24``); we instead expose knobs that
matter on a multi-executor cluster: AQE (runtime re-plan + skew-join
splitting), Arrow for every pandas-UDF stage, UTC session time zone (so
results compare bit-for-bit against external oracles), and a shuffle
partition count sized to the actual parallelism instead of the 200
default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Arrow batch size for pandas-UDF stages. The reference tunes its ingest
# batch between 500 and 5000 members (ldes-consumer/app.py:334,
# docs/components/ldes-consumer.md:228); 4096 rows per Arrow batch plays
# the same role for the extraction/scoring UDFs here.
ARROW_BATCH_ROWS = 4096


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side rows as a DataFrame that no Python worker scans.

    ``spark.createDataFrame(<list>)`` parallelizes the pickled rows
    into a PythonRDD, so every scan of the frame runs one Python-worker
    task per partition. Here the rows become a ``pyarrow.Table`` that
    the JVM reads directly: under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) the plan is a ``LocalRelation``; above it the table is cut
    into Arrow batches of ``ARROW_BATCH_ROWS`` rows (the
    ``maxRecordsPerBatch`` that ``get_spark`` sets), one partition each.

    ``schema`` is a ``StructType`` or a DDL string (``"graph string"``,
    whose fields are nullable). Each row is a tuple in field order.
    ``None`` in a non-nullable field raises ``ValueError`` naming the
    field, as the list path does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row needs {width} values: {schema.simpleString()}")
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Describe the jobs this thread starts inside the block as
    ``text``, then restore the caller's description (a job group set
    by the caller is left as it is)."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(caller)


def get_spark(
    app_name: str = "kgap-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the KG pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and let ``spark-submit`` provide it.
    ``shuffle_partitions`` defaults to the local core count (or 2x
    executor cores cluster-side — pass it explicitly there).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; otherwise keep a sane floor
        shuffle_partitions = _parallelism_of(master, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting. RDF
        # workloads are classically skewed on hub entities (rdf:type
        # objects etc.) — AQE is the first line of defense, explicit
        # salting in canonicalize/ the second. (SURVEY.md §4.)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere Python touches data — the input_hint mandates
        # "no per-row Python anywhere".
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # r07: the old generous 64 MB auto-broadcast threshold made
        # Catalyst broadcast the FULL lineitem fact side of tpch_q5
        # (6M rows at sf1 — 3.5 s locally, an executor-OOM at 100 TB).
        # Known-small dims (the alias dictionary, FTS df table, SPARQL
        # dict slices) all use explicit F.broadcast() hints, which
        # ignore this threshold, so the estimate-driven default only
        # decides fact-vs-fact cases — keep it at Spark's 10 MB
        # (overridable per deployment).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("KGAP_BROADCAST_THRESHOLD",
                           str(10 * 1024 * 1024)),
        )
        # Shuffled-hash over sort-merge when a side fits per-partition
        # (guide: no sort, spills only on the build side); AQE can also
        # rewrite SMJ→SHJ at runtime when every post-shuffle partition
        # is under the local-map threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("KGAP_SHJ_LOCALMAP_THRESHOLD",
                           str(64 * 1024 * 1024)),
        )
        # Self-contained local runs: quiet UI, modest driver memory.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("KGAP_SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("KGAP_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # commit v2: task outputs move to the destination at task
        # commit instead of a serial driver-side rename pass, so the
        # job-commit critical section shrinks (matters with hundreds of
        # graph partitions)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # shuffle/spill on tmpfs when available: local-mode shuffle
        # through a single shared disk serializes otherwise (the prod
        # analog is NVMe-backed shuffle dirs per executor)
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _local_dir() -> str:
    override = os.environ.get("KGAP_SPARK_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        path = "/dev/shm/kgap-spark-local"
        os.makedirs(path, exist_ok=True)
        return path
    import tempfile

    return tempfile.gettempdir()


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return max(2, int(inner))
        except ValueError:
            return default
    return default
