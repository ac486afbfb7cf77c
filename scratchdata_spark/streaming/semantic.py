"""Streaming semantic dedup: an embedding STREAM probed against a
standing corpus — the production shape of SemDeDup in an ingest
pipeline (new embeddings arrive continuously; each must be flagged
against the corpus before it is admitted).

Structured-Streaming shape, same pattern as streaming/admission.py:

* the corpus index — centroids + capped cluster assignment
  (operators/semantic.prepare_corpus_index) — is built ONCE when the
  stream starts and PERSISTED; micro-batches probe it without
  re-deriving anything (fit-once / score-many, the same contract the
  batch incremental operator documents);
* each micro-batch runs ``semantic_dedup_incremental`` with that
  index (map-only assignment of the batch + one within-cluster probe
  join) and writes (id, cluster_id, dup_of) parquet to a
  ``batch_id=N`` partition under ``output_dir`` (overwrite per batch,
  so an at-least-once foreachBatch replay is idempotent) — downstream
  admission filters ``dup_of IS NULL``;
* the file-source checkpoint makes each input file exactly-once
  across restarts.

The corpus index is a SNAPSHOT: vectors admitted during the stream's
lifetime do not join the corpus until the index is rebuilt (restart
the stream per corpus version). That is the standard trade — an
intra-stream growing index would serialize every batch behind a
corpus mutation."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from scratchdata_spark.operators.semantic import (
    prepare_corpus_index,
    semantic_dedup_incremental,
)

def start_semantic_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_df,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_cluster_compare: int | None = 4096,
    trigger: dict | None = None,
    max_files_per_trigger: int = 100,
    schema: StructType | None = None,
    centroids=None,
):
    """Start the stream; returns (StreamingQuery, unpersist_fn).

    Call ``unpersist_fn()`` after stopping the query — the corpus
    index persists for the stream's lifetime and the caller owns the
    handle (a stream can't unpersist on stop by itself).

    ``centroids`` skips the k-means fit and assigns the corpus to the
    given centers — the fit-once / reuse-per-corpus-version shape
    (and what makes the driver's ``s_semantic_stream`` entry exactly
    SQL-expressible: fixed centroids keep both assignments pure
    argmax-cosine)."""
    from pyspark import StorageLevel

    os.makedirs(source_dir, exist_ok=True)
    centroids, casg = prepare_corpus_index(
        corpus_df, id_col, vec_col, centroids=centroids,
        max_cluster_compare=max_cluster_compare,
    )
    casg = casg.persist(StorageLevel.MEMORY_AND_DISK)
    casg.count()  # materialize before the first trigger
    index = (centroids, casg)

    if schema is None:
        # Derive from the id/vec column names — a fixed constant would
        # crash every micro-batch for non-default names.
        schema = StructType(
            [
                StructField(id_col, LongType()),
                StructField(vec_col, ArrayType(FloatType())),
            ]
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        out = semantic_dedup_incremental(
            batch_df, None, id_col, vec_col, threshold=threshold,
            max_cluster_compare=max_cluster_compare, corpus_index=index,
        )
        # foreachBatch is at-least-once: a batch replayed after a
        # mid-commit crash must not duplicate rows.  Writing each batch
        # to its own batch_id=N partition dir with overwrite makes the
        # replay idempotent (same batch_id -> same path, clobbered);
        # readers see batch_id as a discovered partition column.
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("semantic_dedup_stream")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start(), casg.unpersist
