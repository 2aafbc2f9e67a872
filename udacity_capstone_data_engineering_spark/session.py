"""SparkSession factory with scale-ready defaults.

Replaces the reference's session factory (``etl.py:20-31``) which set
``spark.jars.packages`` twice (the second ``.config`` overwrote the first)
and relied on implicit defaults. Here the defaults are chosen for large
clusters and merely *bounded* for local runs:

  - AQE on (runtime shuffle-partition coalescing, skew-join splitting).
  - Arrow on (vectorized pandas-UDF transfer for the few Python ops).
  - Session timezone pinned to UTC for deterministic date/timestamp math.
  - ``spark.sql.shuffle.partitions`` set from the env/cpu count locally;
    on a real cluster AQE re-coalesces, so a generous initial value is
    safe at 100 TB while not over-sharding a laptop run.
  - Generated code stays compiled across queries. Spark keeps at most
    ``spark.sql.codegen.cache.maxEntries`` generated classes (default
    100); a query that misses the cache pays Janino compilation, then JIT
    warm-up of the fresh bytecode. Measured on local[4] in fresh
    sessions: the seven ``catalog_mix`` benchmark rows generate 217
    classes a pass, so under the default each warm pass recompiled
    209-211 of them; the whole 216-row catalog at sf0.01 generates 2,144
    distinct classes, 2,199 over two passes. 4096 holds the whole catalog
    with room to grow. ``useIdInClassName=false`` drops the stage id from
    the generated class name: AQE numbers codegen stages in the order it
    plans them at run time, so the same pipeline came back under another
    id, hence as another class (the second sweep of
    ``tests/test_session.py`` compiled 14-28 classes with the id, 0
    without; a second full-catalog pass 205, against 55). Cost: JVM peak
    RSS over two full-catalog passes 3,110 MB against 2,838 MB at the
    default.
  - No worker set-up: the package ships its code to Python workers by
    value (``__init__.py``), so no session needs a ``PYTHONPATH`` or an
    ``addPyFile`` for the package, whatever its working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def object_store_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    endpoint: str | None = None,
    region: str | None = None,
    path_style_access: bool | None = None,
    anonymous: bool = False,
) -> dict[str, str]:
    """S9: translate a storage-options dict into the ``fs.s3a.*`` confs
    an object-store-backed lake needs (reference ``etl.py:29-30`` pulled
    in ``hadoop-aws`` and set AWS creds from ``dl.cfg`` env at
    ``etl.py:293-299``; its double-``.config()`` bug meant the package
    never actually loaded).

    Credential precedence mirrors the reference's env-based flow: pass
    keys explicitly, or omit them to fall back to ``AWS_ACCESS_KEY_ID``/
    ``AWS_SECRET_ACCESS_KEY``/``AWS_SESSION_TOKEN`` from the environment;
    with neither, the provider chain is left to Hadoop's default (IAM
    instance/role credentials — what a real cluster should use).
    """
    conf: dict[str, str] = {}
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    session_token = session_token or os.environ.get("AWS_SESSION_TOKEN")
    if anonymous:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    elif access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
        if session_token:
            conf["spark.hadoop.fs.s3a.session.token"] = session_token
            conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = region
    if path_style_access is not None:
        conf["spark.hadoop.fs.s3a.path.style.access"] = str(path_style_access).lower()
    # Committer defaults that matter at 100 TB: the magic committer
    # avoids the O(files) sequential rename pass of FileOutputCommitter
    # v1 on object stores (rename = copy there).
    conf["spark.hadoop.fs.s3a.committer.name"] = "magic"
    conf["spark.sql.sources.commitProtocolClass"] = (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    )
    conf["spark.sql.parquet.output.committer.class"] = (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    )
    return conf


def session_builder(
    app_name: str = "udacity_capstone_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    storage_options: dict | None = None,
    hive_support: bool = False,
) -> SparkSession.Builder:
    """Return a configured builder; caller may further customize.

    ``storage_options``: kwargs for :func:`object_store_conf` — the
    one-stop way to point the engine at an s3a:// lake. ``hive_support``
    enables the Hive metastore catalog (reference ``etl.py:30``)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if storage_options is not None:
        for k, v in object_store_conf(**storage_options).items():
            builder = builder.config(k, v)
    if hive_support:
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_spark(**kwargs) -> SparkSession:
    """Create or reuse the engine SparkSession."""
    return session_builder(**kwargs).getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compilations this JVM has run so far (the count of Spark's
    ``CodegenMetrics`` compilation-time histogram). The delta around a
    query is the generated classes it missed in the codegen cache; on
    ``local[n]`` that covers the executor side too."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """JVM-friendly local relation for receipts and artifact relations
    (guide §4.1: control how data crosses the Python boundary).

    ``createDataFrame(list, schema)`` parallelizes the PICKLED rows over
    every default-parallelism slot, and each mostly-empty partition pays
    a Python-worker round-trip (~140 ms here). A downstream
    ``coalesce(1)`` artifact write evaluates all those parents SERIALLY
    inside one task — measured 4.5 s for a ONE-ROW relation (r11 job
    breakdown of ``ann_index_build``: three such writes were 13.4 s of
    its 17.5 s wall). The Arrow path ships the rows as one record batch
    into the JVM (a 1-partition scan, ~0.2 s); when Arrow is off (a
    vanilla consumer session), ``parallelize(rows, 1)`` keeps it to a
    single Python round-trip (~0.3 s). Values and schema are identical
    in all three regimes — only the partitioning of the local relation
    changes. The record batch is built from the Python values with
    pyarrow, not through pandas, whose conversion reads NaN as NULL."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema=schema)
    if (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        == "true"
    ):
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import _parse_datatype_string

            st = (
                _parse_datatype_string(schema)
                if isinstance(schema, str)
                else schema
            )
            tbl = pa.table(
                [list(col) for col in zip(*rows)], schema=to_arrow_schema(st)
            )
            return spark.createDataFrame(tbl, schema=st)
        except Exception:
            pass  # exotic types: fall through to the 1-slice pickle path
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )

