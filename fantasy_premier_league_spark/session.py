"""SparkSession factory.

Local test profile runs on ``local[N]`` (one JVM); the config below is
written so the same code is correct on a 1000-executor cluster:

- ``spark.sql.adaptive.enabled`` — AQE re-plans joins/shuffles at runtime
  (broadcast small sides discovered late, coalesce tiny partitions, split
  skewed ones). This is the main scale knob; everything else is declarative.
- ``spark.sql.shuffle.partitions`` — sized for the local profile; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
- Arrow enabled — all pandas_udf/mapInPandas paths are Arrow-batched.
- ``spark.sql.codegen.cache.maxEntries`` — the generated-class cache holds
  the whole session's working set, so a plan that runs again reuses its
  compiled classes instead of recompiling them (static: builder only).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive parquet timestamps) byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Generated classes kept per session (spark.sql.codegen.cache.maxEntries):
# at least 2x the largest key count measured for one session, so nothing
# a session compiled is evicted. Measured with an unbounded cache: ~190
# per query_mix pass, ~295 per cold refresh, 5174 for the whole tier-1
# suite's one session. Never 0: that disables the cache.
CODEGEN_CACHE_ENTRIES = 12000


def get_spark(app_name: str = "fantasy_premier_league_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session with the engine's standard config."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # GC: G1 with a LAZILY-COMMITTED 24g heap (no -Xms, no AlwaysPreTouch).
    # History, because each step was measured (SCALE.md "Iterative-family
    # tail spikes"): G1 at 8g showed 14-22s random spikes -> rounds 6-9
    # ran ZGC for its sub-ms pauses -> the round-10 spike hunt traced the
    # residual storms to kernel time on ZGC's multi-mapped shmem heap and
    # round 10 switched to a fixed pre-touched G1 heap (-Xms24g
    # -XX:+AlwaysPreTouch), measured clean on the round-10 host image.
    # Round 13 re-measured on the current kernel (6.18.5-fc-v20,
    # virtualized with ~20% steal) and the PRE-TOUCH ITSELF is now the
    # storm: 23 parallel GC threads faulting 24 GiB concurrently burn
    # ~750 CPU-seconds of pure kernel time (~120 us/page under mmap_lock
    # contention) at EVERY session startup — a bare `java -Xms24g
    # -XX:+AlwaysPreTouch` reproduces it with no Spark at all, while a
    # single thread touching pages costs 0.24 us/page and first-fault
    # lazy commit ~2.5 us/page (~16 CPU-s amortized over a whole bench).
    # The startup storm crushed every concurrent session (each pytest
    # Spark subprocess pays it; concurrent bench/parity runs are starved
    # to 20-50% of quiet-host speed). Lazy commit spreads heap faults
    # thinly over execution where they are microseconds each; measured
    # A/B on the heavy bench rows showed no warm-run regression and no
    # GC-driven spikes at 24g Xmx. Old-JDK clusters override via
    # SPARK_GRAFT_JAVA_OPTS (replaces the whole option string for BOTH
    # driver and executor, as before).
    _mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    _base_opts = "-Djava.net.preferIPv4Stack=true -XX:+UseG1GC"
    _env_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    _driver_opts = _env_opts if _env_opts is not None else _base_opts
    _executor_opts = _env_opts if _env_opts is not None else _base_opts
    # Shuffle/scratch dir: this box's / (and /tmp) is ext4 mounted with
    # inline `discard`, so every shuffle-file delete issues synchronous
    # TRIM in the kernel — measured ~25s of sys CPU per q48 run against
    # ~2-5s with a tmpfs local dir (SCALE.md spike section). Prefer
    # /dev/shm when present (50% of the 128 GiB profile; per-query
    # shuffle footprints here are <= a few GB and released between
    # queries). On a real cluster spark.local.dir comes from the cluster
    # manager's fast local disks — same escape hatch shape:
    # SPARK_GRAFT_LOCAL_DIR overrides, empty string disables. Guarded on
    # generous FREE tmpfs (>= 32 GiB): tmpfs overflow is a hard
    # no-space-left failure where a disk local dir merely runs slower,
    # so the default only fires where the whole bench-scale shuffle
    # footprint fits with a wide margin.
    _local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if _local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            _st = os.statvfs("/dev/shm")
            if _st.f_bavail * _st.f_frsize >= 32 * 2**30:
                _local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is byte-based (default 1m): a sub-MB
        # exchange feeding a CPU-heavy stage (per-entity RANGE windows,
        # per-group sorts) collapses to ONE post-shuffle partition and
        # serializes the compute on one of N cores (q16 profiled: the
        # whole rolling-window stage as a single 1.2MB task, 0.63s vs
        # 1.38s warm-min A/B at 64k). 64k keeps such stages spread; at
        # real scale every healthy exchange partition is >> 1m, so the
        # floor never binds there — the setting only affects the
        # small-exchange regime it is meant for. Overridable via
        # SPARK_GRAFT_EXTRA_CONF like every other profile default.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); read as long, catalog
        # converts to micros (matching DuckDB's truncation semantics)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Static conf, so it must be set here. Spark's generated-class
        # cache defaults to 100 entries, and in local mode each
        # whole-stage class takes two (the driver compiles it to
        # validate it, the task thread compiles it again). At 100 a warm
        # query_mix pass (about 190 keys) evicted its own classes and
        # recompiled 133-162 of them, 1.6-1.8 s of Janino per pass plus
        # their lost JIT state; sized as CODEGEN_CACHE_ENTRIES says, warm
        # passes compile 0-6.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode runs everything in the driver JVM, so this IS the
        # engine heap: 8g showed GC-driven 2-3x per-query variance across
        # a 141-query bench run; 24g (of the 128 GiB profile) settles it
        # (measured medians: 199s @ 8g -> 178s @ 24g for the full sf0.1
        # inventory). On a real cluster this knob moves to executor.memory.
        .config("spark.driver.memory", _mem)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", _driver_opts)
        .config("spark.executor.extraJavaOptions", _executor_opts)
    )
    if _local_dir:
        builder = builder.config("spark.local.dir", _local_dir)
    # Experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" layers extra
    # configs onto the standard profile (event-log profiling, AQE A/B
    # tests) without code edits. Applied LAST so an experiment can
    # override any default above; absent → identical session to before.
    _extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for _pair in filter(None, (p.strip() for p in _extra.split(";"))):
        _k, _, _v = _pair.partition("=")
        if _k and _v:
            builder = builder.config(_k.strip(), _v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
