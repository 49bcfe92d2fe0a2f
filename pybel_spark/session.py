"""SparkSession factory with scale-appropriate defaults."""
import os
import re

from pyspark.sql import SparkSession

#: what Spark's size parser accepts: bytes, or a number with a binary
#: unit suffix; a leading minus (``-1``) disables broadcast joins
_SIZE_RE = re.compile(r'-?[0-9]+(?:b|[kmgtp]b?)?', re.IGNORECASE)


def _broadcast_threshold():
    """``spark.sql.autoBroadcastJoinThreshold`` from the
    SPARK_GRAFT_BROADCAST_THRESHOLD environment variable (default 64 MB),
    checked here so a malformed value names its source instead of
    failing inside session build."""
    value = os.environ.get('SPARK_GRAFT_BROADCAST_THRESHOLD')
    if value is None:
        return str(64 * 1024 * 1024)
    if not _SIZE_RE.fullmatch(value.strip()):
        raise ValueError(
            'SPARK_GRAFT_BROADCAST_THRESHOLD must be a byte count or a '
            "Spark size string such as '32m' or '-1', got {!r}".format(value))
    return value.strip()


def get_spark(app_name='pybel-spark', cores=None, shuffle_partitions=None,
              extra_conf=None):
    """Build a local SparkSession.

    On a real cluster the same config block ships via spark-submit --conf;
    AQE + skew-join handling are on so runtime re-planning can split hot
    partitions (hot namespaces / hot URLs) without manual tuning.
    """
    if cores is None:
        cores = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * int(cores), 32)

    builder = (
        SparkSession.builder
        .master('local[{}]'.format(cores))
        .appName(app_name)
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '2048')
        .config('spark.sql.files.maxPartitionBytes', '134217728')
        # default 10 MB is tuned for 1 GB executors; at ≥4 GB/core a
        # 64 MB dimension table (e.g. 80k × dim-768 float vectors in the
        # ANN re-attach joins) is still far cheaper to broadcast than to
        # shuffle the fact side carrying the payload twice — measured
        # 18.6 → ~6 s on the dim-768 near-dup bench row. Overridable for
        # smaller executors (r6 ADVICE): a 64 MB build side on a 1 GB
        # executor can OOM tasks that previously shuffle-joined safely
        .config('spark.sql.autoBroadcastJoinThreshold',
                _broadcast_threshold())
        .config('spark.driver.memory', os.environ.get('SPARK_DRIVER_MEMORY', '8g'))
        .config('spark.ui.enabled', 'false')
        .config('spark.sql.session.timeZone', 'UTC')
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
