"""The one way to pin an intermediate that more than one plan reads.

Spark re-runs a DataFrame's whole lineage for every branch and every
action that reads it, and the AQE stage cache does not match re-resolved
subtrees. Operators pin such intermediates with :func:`materialize`, and
each call site states whether the pin is eager:

- ``eager=False`` — several branches of one query share one computation
  of an expensive subtree (signature passes, probe sets, span metadata).
  Nothing runs until the caller's action.
- ``eager=True`` — the pinned rows must exist before the next plan is
  built: fork points whose consumers must all see ONE partition layout
  (sampled range exchanges, ``monotonically_increasing_id``), and
  iterative loops whose lineage would otherwise grow every round.

The session picks the checkpoint kind; no option does:

- **No checkpoint dir** (local runs, tests, bench): a local checkpoint.
  Blocks live unreplicated on the executors, so losing an executor fails
  the job instead of recomputing. Each call pins a fresh RDD, so no
  later query can read a stale copy.
- **``sc.setCheckpointDir(...)`` set** (cluster deployments): a reliable
  checkpoint written to that directory, which survives executor loss.
  Cost: Spark writes it by recomputing the unpersisted RDD in a second
  job, and a lazy pin may compute it once per reading branch in the
  first action (later actions read the files).
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` reclaims the
  files once the pinned frame is garbage collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Pin ``df`` so every reader shares one materialization (module
    docstring: reliable checkpoint if the session has a checkpoint dir,
    local checkpoint otherwise)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
