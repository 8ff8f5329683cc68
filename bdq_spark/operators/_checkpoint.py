"""Serialized localCheckpoint for DATA-SCALE relations.

``DataFrame.localCheckpoint`` defaults to Scala's
``MEMORY_AND_DISK_DESER``: every checkpointed row is stored as a live
JVM object (~84 bytes measured for a 16-byte edge row — object header,
byte-array header, alignment, block bookkeeping).  For node-scale or
per-round relations that is the right trade (no serialize/deserialize
on every round access).  For EDGE- and SHINGLE-scale relations it is
catastrophic past the first scale decade: the x100 pagerank graph's
59M-row edge checkpoint alone holds 4.96 GiB of storage memory on the
16 GiB measurement heap, and together with the degree-joined twin it
squeezes the unified pool until execution cannot acquire a single page
(``UNABLE_TO_ACQUIRE_MEMORY`` with "got 86" bytes) — the measured root
cause of the second-decade walls in the sf1.0 sweep (pagerank
last-decade exponent 1.70, documents_deduped 1.30).

``data_checkpoint`` keeps the same lineage-cut semantics but stores the
blocks SERIALIZED (``StorageLevel.MEMORY_AND_DISK`` — in PySpark the
un-suffixed level is the serialized one), ~4x smaller in memory and
spilling compactly to local disk under pressure — the same trade GraphX
ships as its default edge storage level.  Use it for any checkpoint
whose row count scales with the DATA (edges, shingles, signatures,
band keys, token streams); keep the default level for node-scale and
per-round relations.

One deliberate exception to the keep-node-scale-deserialized default:
``components._keyed_checkpoint`` routes its node-scale relations
through ``data_checkpoint`` too.  It runs for the CC node set of every
graph the driver finish declines (``components._components_on_driver``:
mostly a pair relation over the session's broadcast threshold or over
1M pairs), and for the PageRank nodes and kcore adjacency past the
2M-node broadcast cutover.  There the relation is past what the driver
or one broadcast holds and keeps growing with the graph, so
capping its storage footprint wins over saving a per-round deserialize
that is noise next to the edge-scan join it feeds (rationale restated
at the call site).
"""

from __future__ import annotations

import inspect

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["data_checkpoint"]

# ``storageLevel`` landed on DataFrame.localCheckpoint in PySpark 4.0
# (SPARK-48258); on a 3.x runtime the keyword raises TypeError at first
# use.  Detect once at import: the 3.x fallback keeps the lineage-cut
# semantics at the default deserialized level — correct, just without
# the memory-footprint win (documented trade, not silent breakage).
_HAS_CHECKPOINT_STORAGE_LEVEL = (
    "storageLevel"
    in inspect.signature(DataFrame.localCheckpoint).parameters
)


def data_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` with serialized block storage
    (PySpark >= 4.0; plain localCheckpoint on older runtimes)."""
    if _HAS_CHECKPOINT_STORAGE_LEVEL:
        return df.localCheckpoint(
            eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    return df.localCheckpoint(eager=eager)
