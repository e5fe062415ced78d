"""Checkpoint strategy: localCheckpoint at local[*], reliable
``checkpoint()`` on real clusters.

``localCheckpoint`` materializes lineage into executor block storage —
right for a single-JVM local session (no distributed-FS round trip)
but pinned to executors: on a multi-node cluster an executor loss
invalidates it mid-job. Iterative operators (``dedup_components``'
label propagation, ``compact_store``'s log fold) therefore route
through ``reliable_checkpoint``: set ``CHECKPOINT_DIR_CONF`` to a
fault-tolerant path (HDFS/S3) and they switch to reliable
``checkpoint()`` files that survive executor churn; leave it unset and
they keep the zero-IO local form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: session conf key; when set, reliable_checkpoint uses checkpoint()
#: rooted here instead of localCheckpoint()
CHECKPOINT_DIR_CONF = "spark.crm_etl_pipeline.checkpointDir"


def reliable_checkpoint(df: DataFrame) -> DataFrame:
    """``df.checkpoint()`` under ``CHECKPOINT_DIR_CONF`` when that conf
    is set, else ``df.localCheckpoint()``. Both are eager and cut
    lineage; only the former survives executor loss."""
    spark = df.sparkSession
    ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if ckpt_dir:
        # setCheckpointDir is idempotent for a fixed path; cheap to pin
        # here so callers never have to coordinate session state
        spark.sparkContext.setCheckpointDir(ckpt_dir)
        return df.checkpoint()
    return df.localCheckpoint()
