"""Kafka input wiring: filebeat's kafka input config (hosts, topics,
initial_offset, group_id, max_batch_size) translated to
``spark.readStream.format("kafka")`` reader options.

Only the reader options live here; events leave through the pipeline's
per-sink tables, so there is no Kafka output. The spark-sql-kafka
artifact is not bundled, so the read itself is left to the caller.
"""

from __future__ import annotations

from typing import Any


def kafka_reader_options(cfg: dict[str, Any]) -> dict[str, str]:
    """filebeat kafka input config → spark.readStream.format("kafka") opts."""
    hosts = cfg.get("hosts", [])
    if isinstance(hosts, str):  # beats YAML coerces scalars to lists
        hosts = [hosts]
    opts = {
        "kafka.bootstrap.servers": ",".join(hosts),
        "subscribe": ",".join(
            cfg["topics"] if isinstance(cfg.get("topics"), list)
            else [cfg.get("topics", "")]
        ),
        "startingOffsets": {"oldest": "earliest", "newest": "latest"}.get(
            cfg.get("initial_offset", "oldest"), "earliest"),
    }
    if cfg.get("group_id"):
        opts["kafka.group.id"] = cfg["group_id"]
    if cfg.get("max_batch_size"):
        opts["maxOffsetsPerTrigger"] = str(cfg["max_batch_size"])
    return {k: v for k, v in opts.items() if v}

