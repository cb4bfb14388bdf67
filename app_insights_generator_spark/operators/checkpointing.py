"""The one way to pin an intermediate: materialize it and truncate its
lineage.

Every driver-loop fixpoint in this package (connected components, the
graph algorithms, k-means) pins once per round so the plan stays flat,
and every fan-out operator or query pins shared intermediates so Catalyst
does not recompute the subtree per consuming branch (operators/dedup.py's
module docstring has the measured case).

The session checkpoint dir decides the mode; nothing else does:

- no dir (the default): ``localCheckpoint`` — fastest, but the blocks live
  in executor storage, so losing an executor (spot reclaim,
  dynamic-allocation decommission) fails every later action that reads
  them;
- a dir set by ``spark.checkpoint.dir`` at session build or by
  ``sparkContext.setCheckpointDir``: a reliable ``checkpoint`` to that
  storage (HDFS/S3/DBFS on a cluster), which survives executor loss at the
  cost of one write and read.

Output is identical either way (tests/test_dedup.py, test_graph.py,
test_similarity.py, test_sweep.py run each pinning operator in both
modes). Checkpoint files accumulate under the dir; set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` or sweep the dir
between jobs on long-lived clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage, reliably when
    the session has a checkpoint dir (see module docstring)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
