"""Pipeline system column names.

Beats' event model (libbeat/beat/event.go:35-41) has Timestamp / Meta /
Fields; here the known transcript columns are typed top-level columns, parsed
fields land in a struct column named by the dissect/grok ``target_prefix``,
out-of-band metadata lives in columns prefixed ``_meta_`` (excluded from sink
payloads), and ``@timestamp`` is the ``ts`` column.
"""

from __future__ import annotations

# System / metadata column names. Columns starting with META_PREFIX mirror
# beat.Event.Meta ("@metadata.*", event.go:113-126): visible to routing,
# stripped from sink payloads.
META_PREFIX = "_meta_"
SINK_COL = "_sink"          # routing decision (outil.Selector result)
# _pid (input-partition id) deliberately does NOT carry the META_PREFIX:
# it is PERSISTED into each sink row as per-partition provenance — the
# written files are what the (run, partition, sink) metrics re-aggregate
# from, so stripping it would leave metrics unverifiable after the fact.
PID_COL = "_pid"
