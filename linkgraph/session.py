"""SparkSession construction with the engine's pinned configuration.

Pins (SURVEY.md §4, §7 trap 4):
- ``spark.sql.shuffle.partitions`` = the graph partition count ``P`` so the
  explicit co-partitioning of CSR blocks and vertex state survives shuffles.
- Arrow execution enabled for all pandas/Arrow UDF paths.
- AQE stays ON (partition coalescing is safe for the relational glue; the
  graph paths use explicit ``repartition(P, key)`` which AQE honors).
"""

from __future__ import annotations

import contextlib

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_PARTITIONS = 32
_JOB_DESCRIPTION = "spark.job.description"


def get_spark(
    app_name: str = "linkgraph",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's pinned conf.

    ``master=None`` leaves the master to spark-submit (production path:
    ``spark-submit --py-files linkgraph.zip bench/submit_main.py``); tests and
    local benches pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.config("spark.master", master)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1048576",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Keep driver-side collects of metrics rows cheap and bounded.
        "spark.sql.execution.arrow.pyspark.fallback.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "8g",
        # Heartbeat/network tolerances: the default 10s interval × 60 missed
        # beats kills the executor (System.exit) when the host is saturated
        # by external tenants — observed on the shared box at loadavg 14
        # ("Exit as unable to send heartbeats to driver more than 60
        # times" mid-probe).  On a production cluster these are the same
        # knobs raised for long-GC / busy-node survival.
        "spark.executor.heartbeatInterval": "60s",
        "spark.network.timeout": "600s",
        # CSR block rows are multi-MB Arrow arrays -> humongous objects in
        # G1; default region sizing caused multi-second GC stalls (measured
        # 15-40s superstep outliers on a 48g heap). 32m regions +
        # AlwaysPreTouch (no page-fault stalls while the heap grows) gave
        # flat superstep walls. Applied at JVM launch; no-op on an already
        # running JVM (getOrCreate reuse).
        # GCLockerRetryAllocationCount: Arrow/netty JNI critical sections
        # hold the GCLocker while tasks allocate multi-MB buffers; the JDK
        # default of 2 retries aborts the task under pressure ("Retried
        # waiting for GCLocker too often").
        "spark.driver.extraJavaOptions": (
            "-XX:G1HeapRegionSize=32m -XX:+AlwaysPreTouch "
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
        ),
        "spark.executor.extraJavaOptions": (
            "-XX:G1HeapRegionSize=32m "
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def job_description(sc: SparkContext):
    """Yield a setter for the calling thread's Spark job description and
    restore the previous description on exit (it is a thread-local
    property, so each thread tags its own jobs)."""
    prev = sc.getLocalProperty(_JOB_DESCRIPTION)
    try:
        yield sc.setJobDescription
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, prev)
