"""SparkSession configuration for this engine, one place instead of
scattered builder chains.

``configured_builder`` returns a builder with the settings every
deployment of this engine wants; callers override per-environment
(master, memory) and call ``.getOrCreate()``. The defaults are chosen
for the 100 TB design point and are no-ops or harmless at test scale:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion) — the single biggest lever for plans whose
  cardinalities the optimizer can't know up front (near-dup candidate
  counts, session lengths).
- ``spark.sql.session.timeZone=UTC`` — bucket math is UTC by contract
  (SURVEY.md §7 "Local vs UTC"); a non-UTC session would silently
  shift Gregorian buckets.
- shuffle partitions sized to cores at test scale; at cluster scale
  set ``default_shuffle_partitions(input_bytes)`` instead — the rule
  of thumb is one partition per ~128-200 MB of shuffle input, and AQE
  coalesces the tail.
- ``maxPartitionBytes=128m`` keeps scan tasks at a size where a 100 TB
  input becomes ~800k tasks — large enough to amortize scheduling,
  small enough that one straggling row group doesn't stall a stage.
- Arrow enabled for the Pandas-UDF paths (multimodal decode,
  stateful sessionization) — Arrow batch transfer is what makes those
  viable at all (~10-100x over row pickling).
- ``spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES`` — one
  pass of the read API's plan shapes (12 read kinds over 5 types and 3
  intervals, plus the headline queries) generates more than Spark's
  default 100 classes, so its LRU evicted and recompiled most of them
  on every pass. Measured over one ``perfbench`` ``kairos_read``
  session (set-up, warm-up, three passes; seed 1, shared 4-vCPU VM):
  355 compiles at 100 entries (70, 68 and 83 per pass), 210 with the
  cache unbounded (28, 28 and 20 per pass: plans with new constants).
  The constant sits well above that. ``tests/conftest.py``, ``bench.py`` and
  ``tools/opt_profile.py`` build their own sessions and do not pick
  this setting up.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# generated-class cache size (static: read once when the JVM starts)
CODEGEN_CACHE_ENTRIES = 1000


def configured_builder(
    app_name: str = "kairos_spark",
    cores: int | None = None,
) -> SparkSession.Builder:
    """Builder with engine defaults; caller sets master/memory and
    calls getOrCreate()."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if cores:
        b = b.config("spark.sql.shuffle.partitions", str(cores))
    return b


def default_shuffle_partitions(shuffle_input_bytes: int, target_mb: int = 160) -> int:
    """Partition-count rule of thumb for a known shuffle volume: one
    partition per ~``target_mb`` MB, floor 2× so AQE has room to
    coalesce down rather than split up."""
    return max(8, 2 * (shuffle_input_bytes // (target_mb << 20) + 1))
