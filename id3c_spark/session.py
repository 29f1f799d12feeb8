"""SparkSession factory tuned for both local testing and cluster scale.

The reference (seattleflu/id3c) delegates all planning to Postgres; here
every config is chosen so Catalyst/AQE can do the equivalent work:
adaptive re-planning, broadcast-vs-shuffle decisions, skew handling.

Scale notes (100 TB design point):
  - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
    partition counts; ``spark.sql.shuffle.partitions`` is only the upper
    bound pre-AQE.
  - ``mapKeyDedupPolicy=LAST_WIN`` matches Postgres hstore right-biased
    concat (reference: schema/deploy/warehouse/location.sql hierarchy
    ``||`` semantics, lib/id3c/cli/command/etl/__init__.py:450-456).
  - Session timezone pinned UTC so timestamp semantics match the
    reference's ``timestamptz`` columns and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_defaults() -> tuple[int, str]:
    """(cpus, driver memory) for a local session: $SPARK_GRAFT_CPUS and
    $SPARK_GRAFT_DRIVER_MEM when set, else derived from the host — the
    CPUs this process may run on, and min(16g, RAM/4) so a small host is
    not over-subscribed."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        with open("/proc/meminfo") as f:
            total_mb = int(f.readline().split()[1]) // 1024
        mem = f"{min(16 * 1024, total_mb // 4)}m"
    return int(cpus) if cpus else len(os.sched_getaffinity(0)), mem


def get_spark(
    app_name: str = "id3c_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Defaults to ``local[cpus]`` locally, with cpus and driver memory from
    session_defaults(); on a real cluster the master comes from the
    environment/spark-submit and these configs still apply (they are
    master-agnostic).
    """
    cpus, driver_mem = session_defaults()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A join whose children each run as one partition stays in their
        # task only if each child's size estimate is at most this bound
        # (EnsureRequirements); a join's estimate is the product of its
        # inputs', so the 128 MB default reshuffles a one-task shipping
        # view (plans/shipping.py) after its first join. Whether a plan
        # runs as one partition is decided by its hints, not here.
        .config("spark.sql.maxSinglePartitionBytes", str(2**63 - 1))
        # The driver's events.parquet uses TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long and convert (see
        # read_table) — truncation to micros matches DuckDB's semantics.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every parquet table under ``sf_dir`` and register temp views.

    Returns {name: DataFrame}. Filters and projections on these views push
    down to the parquet scan (verify with ``.explain`` → PushedFilters).
    """
    import glob
    import os as _os

    tables = {}
    for path in sorted(glob.glob(_os.path.join(sf_dir, "*.parquet"))):
        name = _os.path.basename(path).replace(".parquet", "")
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables
