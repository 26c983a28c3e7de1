"""SparkSession builder tuned for the engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime coalesce + skew-join split), Arrow transfers on,
shuffle partitions sized to cores (cluster: 2-3x total cores), UTC session TZ
so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "marmot_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make the engine importable in Python workers regardless of caller cwd
    # (cluster deployments ship it via spark-submit --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        if "," in inner:
            # local-cluster[numWorkers, coresPerWorker, memMB]
            parts = inner.split(",")
            n = int(parts[0]) * int(parts[1])
        elif inner == "*":
            n = os.cpu_count() or 32
        else:
            n = int(inner)
        shuffle_partitions = max(2, n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing OFF: AQE merges post-shuffle partitions by shuffle BYTES,
        # which under-counts fan-out operators — our flagship explodes ~95x
        # after the as-of shuffle, and byte-based coalescing was measured to
        # fuse six balanced 3.6M-feature-row partitions into one 20.6M-row
        # straggler (36% of the stage on one task). The engine sizes shuffle
        # partitions explicitly (cores-matched locally, 2-3x cores on a
        # cluster); skew-join splitting stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet naive timestamps as TIMESTAMP (UTC), not TIMESTAMP_NTZ:
        # keeps epoch arithmetic (unix_micros, range frames) and DuckDB-oracle
        # comparisons exact
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide token arrays (<=512 int32) -> keep Arrow batches moderate
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # INT64 micros timestamps instead of the Spark 4.1 default INT96:
        # the INT96 writer converts every value to Julian-day nanos through
        # the legacy-calendar rebase path — the r6 pinned interleaved sink
        # A/B (BENCH/r06_sink_ab.json) measured the full flagship sink at
        # cpu 262/216/342 s (INT96) vs 169/88 s clean runs (MICROS), wall
        # min 26.2 vs 15.0 s, identical 753 MB output. Bytes round-trip
        # exactly (Spark timestamps ARE micros); readers see TIMESTAMP
        # either way.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # modern-domain timestamps only (engine convention): skip the
        # per-value pre-1582 rebase check on write; out-of-domain values
        # would be rebase-identical anyway under proleptic Gregorian readers
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        # zstd sinks: measured 26% faster AND 40% smaller than snappy for the
        # flagship feature matrix (40.0s/711MB vs 53.9s/1.2GB, warm, 32 cores)
        # — on bandwidth-bound hosts the smaller write wins outright, and at
        # 100 TB the storage/network savings compound
        .config("spark.sql.parquet.compression.codec", "zstd")
        # level 1 vs default 3 on the integer-heavy feature matrix: +1% size
        # (754 vs 746 MB), strictly less compression CPU (17.9-24.4s vs
        # 24.0-63.9s sink wall across interleaved runs, differences within
        # host noise) — at 10^12 rows the CPU saving is the bound that matters
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        # SHUFFLE codec zstd (level 1, the Spark default level) over default
        # lz4: measured on the flagship at the 2.4M-row design-proxy input,
        # interleaved medians, fresh JVMs (BENCH/BASELINE.md r3) — 1-core
        # 87.3 -> 71.9 JVM-CPU-s (-18%), 4-core 113.8 -> 99.2 (-13%), i.e.
        # faster at EVERY parallelism level: the narrow integer shuffle
        # frames compress ~2x better than lz4 for comparable codec CPU, and
        # fewer shuffle bytes relieve exactly the resource (memory/network
        # bandwidth) that contends at scale. Same reasoning holds on a real
        # cluster where shuffle crosses the network.
        .config("spark.io.compression.codec", "zstd")
    )
    # env-injected overrides (last wins) — lets subprocess-driven benchmarks
    # (BENCH/sweep_configs.py) A/B single configs without code edits:
    #   SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=lz4;spark.x=y"
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    merged = dict(extra_conf or {})
    for kv in filter(None, env_conf.split(";")):
        k, _, v = kv.partition("=")
        merged[k.strip()] = v.strip()
    for k, v in merged.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
