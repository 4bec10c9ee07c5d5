"""SparkSession construction and runtime tuning.

The engine may receive an externally-built session (the driver contract
passes one in), so all scale-relevant settings that are runtime-settable
are applied by :func:`tune` rather than only at builder time. The
static ones (:data:`BUILDER_CONF`) take effect only when the JVM's
first session starts, and :func:`tune` cannot change them afterwards:
scripts that build their own session apply them with
``SparkSession.builder.config(map=BUILDER_CONF)``, and a session that
spark-submit (or any other host) starts must be given each as
``--conf key=value``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session we run on.
# AQE gives shuffle-coalescing + skew-join splitting at 100 TB scale;
# Arrow is mandatory for the pandas-UDF kernels (vectorized, never
# per-row Python); UTC pins timestamp semantics so results are
# independent of driver locale.
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # broadcast anything under 64 MB — every lexicon dimension in this
    # engine is far below that (reference lexicons are ~3.5 MB each,
    # /root/reference/data/prevalence_nl.data)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # PySpark 4's DataFrame debugging wraps EVERY DataFrame/Column op to
    # capture its Python call site for error context — ~4 py4j round
    # trips + a stack walk per op. The wide-vector builders here issue
    # thousands of ops per query, and profiling showed this wrapper as
    # ~half of tscan_doc_profile's 14s driver-side construction time
    # (guide §5: the driver should do almost no work). Error messages
    # lose only the Python call-site decoration.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Spark puts the stage id into every generated class's name and so
    # into its source, the codegen cache key; the id changes between
    # builds, so every warm build recompiled every class. Measured on
    # tscan_doc_profile_staged at sf0.001, compiles per warm pass:
    # 454-457 with Spark's defaults, 34-88 with a 4,096-class cache
    # alone, 0 with both.
    "spark.sql.codegen.useIdInClassName": "false",
}

# Static confs: read once, when the first session of the JVM starts.
BUILDER_CONF = {
    # Spark's compiled-class cache holds 100 classes by default, fewer
    # than one staged-profile pass (364 distinct classes at sf0.001), so
    # classes were evicted and recompiled on every pass. All 118
    # registered queries at sf0.001 compile 1,727 distinct classes in
    # one session (unbounded cache, stable names; a second pass over
    # all 118 adds 4), so 2048 holds the whole battery.
    "spark.sql.codegen.cache.maxEntries": "2048",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf locked by the host session — keep going; every
            # operator is still correct, only planning quality varies.
            pass
    _tune_gateway_sockets()
    return spark


def _tune_gateway_sockets() -> None:
    """Set TCP_NODELAY on the py4j command sockets.

    py4j leaves Nagle's algorithm on; every DataFrame/Column call is a
    small synchronous request/response, and wide-vector query
    construction issues tens of thousands of them. Measured: ~0.8ms ->
    ~0.6ms per round trip on this host. Driver-side only; best effort.
    """
    import socket as _socket

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        for conn in list(getattr(gw._gateway_client, "deque", [])):
            sock = getattr(conn, "socket", None)
            if sock is not None:
                sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except Exception:
        pass


def _default_driver_mem() -> str:
    """8g library default; 32g only when the host clearly has headroom.

    Long bench/driver sessions on the 128 GiB sandbox need the big heap
    (see the GC note below), but baking 32g into the library default
    would swap or OOM-kill smaller hosts.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) / (1024 * 1024)
                    return "32g" if gib >= 96 else "8g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "tscan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster this function is not used — spark-submit owns the
    session and :func:`tune` is applied instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-partition overhead at test SF.
        try:
            n = int(master.split("[")[1].rstrip("]").replace("*", "32"))
        except Exception:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # single-JVM local mode hosts driver + executors + every
        # broadcast; 8g thrashed GC after ~50 sequential queries in one
        # session (late queries measured 3-10x their isolated cost).
        # Derived from host RAM rather than hard-coded: 32g is only safe
        # on large hosts; smaller boxes keep the 8g library default
        # (override with TSCAN_SPARK_DRIVER_MEM either way).
        .config("spark.driver.memory", os.environ.get("TSCAN_SPARK_DRIVER_MEM", _default_driver_mem()))
        # release dropped broadcast/shuffle state between queries in
        # long-lived benchmark/driver sessions — 30min, NOT 1min: each
        # trigger is a stop-the-world full GC of the 32g heap, and at
        # 1min the pauses landed on random queries (5-20s inflation
        # moving between runs)
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("TSCAN_SPARK_PERIODIC_GC", "30min"),
        )
        # whole-stage codegen across ~60 wide queries fills the default
        # ~240m JIT code cache; once full the JVM stops compiling and
        # late queries run interpreted (measured 3-10x, later 10-45x
        # slowdowns as the query battery grew) — reserve big and keep
        # flushing enabled so cold compiled methods can be evicted
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("TSCAN_SPARK_CODE_CACHE", "2g")
            + " -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config(map=BUILDER_CONF)
        .config(map=_RUNTIME_CONF)
    )
    return tune(builder.getOrCreate())
