"""SparkSession construction with scale-aware defaults.

The reference engine tunes itself via per-context ``config_options``
(/root/reference/pyblazing/pyblazing/apiv2/context.py:1239-1266). Our
equivalents are Spark confs; the defaults below are what we'd ship for a
large cluster, trimmed to work on local[N]:

- AQE on (runtime re-plan = the reference's runtime scatter/gather decisions,
  BatchJoinProcessing.cpp:672-743, but done by Spark).
- Skew-join handling on (the reference has no answer to skew at all).
- Arrow-backed pandas interop on (cuDF interop equivalent).
- UTC session timezone so results are engine-portable (DuckDB oracle
  comparisons included).
- A 4096-class generated-code cache (Spark's default is 100), sized to the
  query registry's working set, so a repeated query reuses its compiled
  classes instead of compiling and JIT-warming them again. The reference
  compiles nothing per query: its expressions run through one precompiled
  GPU interpreter (engine/src/Interpreter/interpreter_cpp.h:30-36).
- A JIT policy for the local-mode driver JVM (``_JIT_POLICY``): the four
  C2 (tier-4) compile thresholds raised 10x, so hot code still reaches
  C2 while Spark's broad, lukewarm driver code (planning, scheduling,
  streaming micro-batches) stays in C1. That JIT work is fixed cost the
  reference never pays; it was 55-65% of a warm operation's CPU.
  A caller's ``spark.driver.extraJavaOptions`` is appended after the
  package's flags, and HotSpot keeps the last value of a repeated
  ``-XX`` flag, so a caller can override any one of them.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import SparkSession

# Confs that matter at 100 TB: AQE re-plans post-shuffle partition counts and
# skew; the shuffle-partition default here is overridden per-deployment
# (rule of thumb: 2-3x total executor cores, or rely on AQE coalescing).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: keep Spark's 10 MB default. The reference scatters
    # tables < 400 MB (PhysicalPlanGenerator.h:473-477) but its estimate is
    # in-memory bytes; Spark estimates from parquet file size, which
    # understates heap ~8x. Measured on q3 at ~10M rows: 64 MB threshold =
    # 9.6-27s (driver-side hash build), 10 MB = 4.1s. AQE still upgrades
    # genuinely small runtime sides to broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # managed-table home (bucketed tables etc.) — static conf, set at build
    "spark.sql.warehouse.dir": "/tmp/blazingsql_spark_warehouse",
    # Generated-class cache, keyed on the generated source: a repeated plan
    # compiles nothing (no Janino, no JIT re-warm) while the cache holds the
    # session's working set. Spark's 100-entry default does not: the 22
    # TPC-H texts generate about 380 classes, so each repeat recompiled
    # about 395. The whole 281-row registry generates about 3,700 distinct
    # classes at sf0.001 (tools/prof.py); 4096 holds them with headroom for
    # the cap being split over 4 LRU segments, and the JIT code cache then
    # peaks at 159 MB of its 512 MB. Static conf: set at session build.
    # tpch_q2/q20 still recompile up to ~15 classes on some executions, from
    # Spark, not their SQL: AQE numbers codegen stages in the order
    # concurrent query stages finish, and the number is in the class source.
    "spark.sql.codegen.cache.maxEntries": "4096",
}

# C2 (tier-4) thresholds 10x the JDK 17 defaults (5000, 600, 15000,
# 40000). Over 8 identical ANN probes the JIT compiled 12,602 distinct
# methods: the long tail of C2 compiles over Spark's lukewarm driver
# code, 55-65% of a warm operation's CPU. With these, that code stays in
# C1 and hot loops still reach C2: the warm runs of a 200M-row
# aggregate, a 20M-row sort and a 10M x 2M join (tools/scale.py hot)
# keep their wall time. Measured on a 4-core host, 10 interleaved pairs:
# perfbench pass CPU 0.67x (llm_ops) and 0.70x (tpch_sql), warm wall
# time flat; sf0.1 TPC-H + MATCH_RECOGNIZE session JIT 72.8 -> 28.3 s.
# C1 only (-XX:TieredStopAtLevel=1) made that aggregate 10x slower, and
# -XX:CompileThresholdScaling=4 delays C1 too (session setup 1.3x).
_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "blazingsql_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test/bench environment; on a real cluster pass None via
    spark-submit and let the cluster manager decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    if master.startswith("local"):
        n = master[master.find("[") + 1 : master.find("]")] or "32"
        if n == "*":
            n = str(os.cpu_count() or 32)
        conf["spark.sql.shuffle.partitions"] = n
        # local mode = single JVM: the driver heap IS the executor memory.
        # Spark's 1g default starves broadcast builds/sorts on a big box
        # (observed: broadcast OOM at ~10M-row joins with 128 GiB free).
        conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        conf["spark.driver.maxResultSize"] = "8g"
        # Whole-stage codegen emits one class per plan stage; a session that
        # runs a whole registry of distinct plans fills the JVM's 240 MB
        # default code cache, after which the JIT disables itself and
        # WHATEVER runs next goes interpreted — observed as random 5-10x
        # per-query spikes late in bench runs. Spark's own tuning guide
        # says to raise ReservedCodeCacheSize for codegen-heavy workloads.
        conf["spark.driver.extraJavaOptions"] = f"-XX:ReservedCodeCacheSize=512m {_JIT_POLICY}"
    for k, v in (extra_conf or {}).items():
        # the caller's JVM flags go after the package's: the last value of a
        # repeated -XX flag wins, so the caller overrides one, not all
        if k == "spark.driver.extraJavaOptions" and k in conf:
            v = f"{conf[k]} {v}"
        conf[k] = v
    conf.update(_rapids_conf())
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class CodegenStats(NamedTuple):
    compiles: int  # Janino compiles: generated classes not found in the cache
    jit_ms: int  # JIT compile milliseconds
    code_cache_peak_mb: float  # peak of the JIT code cache ("CodeHeap" pools)


def codegen_stats(spark: SparkSession) -> CodegenStats:
    """Cumulative code generation cost of the session's JVM so far: Spark's
    ``CodegenMetrics`` compile count and the JVM's ``CompilationMXBean``
    and code-cache pools. In local mode the executors share the driver
    JVM, so task-side compiles are counted too. The code-cache peak is the
    sum of each pool's own peak, an upper bound on their joint peak."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getName().startswith("CodeHeap")]
    return CodegenStats(
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        mf.getCompilationMXBean().getTotalCompilationTime(),
        sum(p.getPeakUsage().getUsed() for p in pools) / 2**20,
    )


def _rapids_conf() -> dict[str, str]:
    """GPU path (the reference IS a GPU engine — cuDF kernels under
    engine/src/execution_kernels/): when the RAPIDS Accelerator jar is
    provided via $SPARK_RAPIDS_PLUGIN_JAR, enable the plugin — every
    operator in this repo is declarative DataFrame/SQL, so the plugin can
    move whole plans to GPU without code changes (the Pandas-UDF paths in
    functions/multimodal.py and the vectorized LSH projections fall back
    to CPU cleanly — the plugin splits plans at those boundaries). No-op
    otherwise (this environment has no GPU/jar). Deployment recipe,
    per-knob rationale, and the operator fallback inventory: GPU.md.

    Knobs (overridable via env):
    - SPARK_RAPIDS_GPU_PER_EXECUTOR / SPARK_RAPIDS_TASKS_PER_GPU: resource
      scheduling — executors request whole GPUs; task amount is the
      reciprocal of desired concurrency so N tasks share one GPU.
    - SPARK_RAPIDS_PINNED_POOL: pinned host memory for spill/transfer —
      the equivalent of the reference's pinned BlazingMemoryResource.
    - GPU scans prefer LARGER input splits than CPU (kernel launch
      overhead amortizes; 512m is the plugin's documented sweet spot vs
      our CPU-side 128m maxPartitionBytes)."""
    jar = os.environ.get("SPARK_RAPIDS_PLUGIN_JAR")
    if not jar:
        return {}
    tasks_per_gpu = os.environ.get("SPARK_RAPIDS_TASKS_PER_GPU", "2")
    return {
        "spark.jars": jar,
        "spark.plugins": "com.nvidia.spark.SQLPlugin",
        "spark.rapids.sql.enabled": "true",
        # resource scheduling: whole GPUs per executor, fractional per task
        # so `tasks_per_gpu` tasks overlap compute with transfer
        "spark.executor.resource.gpu.amount": os.environ.get(
            "SPARK_RAPIDS_GPU_PER_EXECUTOR", "1"
        ),
        "spark.task.resource.gpu.amount": str(1.0 / max(int(tasks_per_gpu), 1)),
        "spark.rapids.sql.concurrentGpuTasks": tasks_per_gpu,
        # pinned host memory accelerates H2D/D2H and GPU spill
        "spark.rapids.memory.pinnedPool.size": os.environ.get(
            "SPARK_RAPIDS_PINNED_POOL", "2g"
        ),
        # bigger scan splits amortize kernel launches on GPU
        "spark.sql.files.maxPartitionBytes": "512m",
        # surface which operators fell back to CPU (and why) in the logs —
        # the audit loop for keeping plans fully columnar
        "spark.rapids.sql.explain": "NOT_ON_GPU",
    }
