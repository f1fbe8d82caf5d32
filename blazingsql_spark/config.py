"""Reference ``config_options`` → Spark conf mapping.

The reference exposes ~30 engine knobs per context/query
(/root/reference/pyblazing/pyblazing/apiv2/context.py:1239-1266). Each row
maps one to the Spark conf that owns the same behavior, so a reference user
can port their tuning. ``apply_config_options`` translates a reference-style
dict onto a SparkSession.
"""

from __future__ import annotations

from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# reference option (context.py:1239-1266) → (spark conf, transform) | None
# None = no knob needed: Spark's engine owns that concern automatically.
CONFIG_MAP: dict[str, tuple[str, Any] | None] = {
    # JOIN_PARTITION_SIZE_THRESHOLD (400MB scatter threshold,
    # PhysicalPlanGenerator.h:473-477) → broadcast threshold
    "JOIN_PARTITION_SIZE_THRESHOLD": ("spark.sql.autoBroadcastJoinThreshold", int),
    # MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE / batch sizing → scan split size
    "MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE": ("spark.sql.files.maxPartitionBytes", int),
    # MAX_ORDER_BY_SAMPLES_PER_NODE → range-partition sampling
    "MAX_ORDER_BY_SAMPLES_PER_NODE": ("spark.sql.execution.rangeExchange.sampleSizePerPartition", int),
    # BLAZING_PROCESSING_DEVICE_MEM_CONSUMPTION_THRESHOLD (0.9) → memory fraction
    "BLAZING_PROCESSING_DEVICE_MEM_CONSUMPTION_THRESHOLD": ("spark.memory.fraction", float),
    # MAX_KERNEL_RUN_THREADS → per-executor parallelism
    "MAX_KERNEL_RUN_THREADS": ("spark.executor.cores", int),
    # NETWORK_INTERFACE / PROTOCOL (UCX/TCP) → Spark network stack: no knob
    "NETWORK_INTERFACE": None,
    "PROTOCOL": None,
    # BLAZING_DEVICE_MEM_CONSUMPTION_THRESHOLD → storage fraction
    "BLAZING_DEVICE_MEM_CONSUMPTION_THRESHOLD": ("spark.memory.storageFraction", float),
    # BLAZING_LOGGING_DIRECTORY → event log dir
    "BLAZING_LOGGING_DIRECTORY": ("spark.eventLog.dir", str),
    "BLAZING_CACHE_DIRECTORY": ("spark.local.dir", str),
    # MEMORY_MONITOR_PERIOD (50ms downgrade loop) → spill is automatic
    "MEMORY_MONITOR_PERIOD": None,
    # TABLE_SCAN_KERNEL_NUM_THREADS → input split parallelism is automatic
    "TABLE_SCAN_KERNEL_NUM_THREADS": None,
    # ORDER_BY_SAMPLES_RATIO → automatic (range partitioning samples itself)
    "ORDER_BY_SAMPLES_RATIO": None,
    # TRANSPORT_BUFFER_BYTE_SIZE / POOL_SIZE → shuffle buffers are automatic
    "TRANSPORT_BUFFER_BYTE_SIZE": None,
    "TRANSPORT_POOL_NUM_BUFFERS": None,
    "REQUIRE_ACKNOWLEDGE": None,
    # ENABLE_GENERAL_ENGINE_LOGS etc → Spark log levels
    "ENABLE_GENERAL_ENGINE_LOGS": None,
    "ENABLE_COMMS_LOGS": None,
    "ENABLE_TASK_LOGS": None,
    "ENABLE_OTHER_ENGINE_LOGS": None,
    "LOGGING_LEVEL": None,
    "LOGGING_FLUSH_LEVEL": None,
    "LOGGING_MAX_SIZE_PER_FILE": None,
    "BLAZING_LOCAL_LOGGING_DIRECTORY": None,
    "MAX_JOIN_SCATTER_MEM_OVERHEAD": None,
    "MAX_NUM_ORDER_BY_PARTITIONS_PER_NODE": None,
    "NUM_BYTES_PER_ORDER_BY_PARTITION": ("spark.sql.adaptive.advisoryPartitionSizeInBytes", int),
    "MAX_SEND_MESSAGE_THREADS": None,
    "FLOW_CONTROL_BYTES_THRESHOLD": None,
    "CONCATENATING_CACHE_NUM_BYTES_TIMEOUT": None,
}


def apply_config_options(spark: SparkSession, options: dict[str, Any]) -> dict[str, str]:
    """Apply reference-style config_options; returns {ref_option: spark_conf}
    for what was applied. Unknown/unmappable options are ignored (the
    reference likewise ignores unknown keys)."""
    applied: dict[str, str] = {}
    for key, value in options.items():
        mapping = CONFIG_MAP.get(key)
        if mapping is None:
            continue
        conf, cast = mapping
        setting = str(cast(value))
        try:
            spark.conf.set(conf, setting)
            applied[key] = conf
        except AnalysisException:  # a conf a live session may not change
            applied[key] = f"{conf} (static — set at session build)"
    return applied
