"""Streaming incremental MinHash dedup (SURVEY.md §2 C23) — the
stream twin of operators/dedup_index.py.

Each micro-batch of arriving documents is (1) probed against the
persisted MinHash index — emitting the near-dup pairs that batch
creates against everything already ingested — and (2) appended to
the index, so the NEXT batch probes this one too. ``foreachBatch``
is the right harness: the probe is a batch join against a parquet
index (no unbounded streaming state — the "state" IS the index on
disk, exactly-once-extended via the checkpointed batch id), which is
how a production ingest firehose near-dups against a 100 TB history
without keeping signatures in executor memory.

Exactly-once note: foreachBatch can REPLAY a batch after a crash.
The pair sink is idempotent (overwrite per batch_id directory, the
write_partial_summary pattern), the probe itself is replay-proof
(``incremental_minhash_pairs`` anti-joins the batch's own ids out of
the index side, so a batch that already reached the index probes
identically), and the index extension is guarded by recording
applied batch ids under ``{index}/_applied/batch_id=N`` so a
replayed batch skips the duplicate append. The one unguarded window
— a crash between the append finishing and the marker landing —
duplicates index rows for that batch only; a transactional table
format closes it with a real commit protocol (same caveat as
sources/writers.py compact_table's rename window).

Correctness evidence: parity with the batch operator —
tests/test_dedup_index.py pins incremental == from-scratch B3, and
tests/test_streaming.py pins this stream harness == sequentially
applying the batch operator to the same micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from nass_summary_spark.functions.fsio import hadoop_fs
from nass_summary_spark.operators.dedup_index import (
    _incremental_minhash_pairs_with_handle,
    extend_minhash_index,
)


def minhash_dedup_stream(
    sdf: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Start the probe-then-extend cycle over a document stream.
    Pairs for batch N land under ``{pairs_path}/batch_id=N``
    (idempotent overwrite); the index grows under ``index_path``.
    The index must exist (``build_minhash_index``, possibly on an
    empty frame) before the stream starts."""

    def probe_and_extend(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the marker goes through Hadoop's FS, not os.path: on an
        # hdfs:// or s3a:// index a local check never finds it, and
        # every crash-replay would re-append the batch
        fs, marker = hadoop_fs(
            spark, f"{index_path}/_applied/batch_id={batch_id}"
        )
        # probe first: replay-proof regardless of whether this batch
        # already reached the index (see module docstring)
        pairs, probe_handle = _incremental_minhash_pairs_with_handle(
            spark, batch_df, id_col, text_col, index_path,
            n=n, num_perm=num_perm, bands=bands, threshold=threshold,
        )
        try:
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/batch_id={batch_id}"
            )
            if not fs.exists(marker):
                extend_minhash_index(
                    batch_df, id_col, text_col, index_path,
                    n=n, num_perm=num_perm, bands=bands,
                )
                fs.mkdirs(marker)
        finally:
            # the pair write materialized every consumer of the
            # cached batch signatures + candidate set — release them,
            # or a long-running stream leaks cached relations per
            # micro-batch
            probe_handle.unpersist()

    return (
        sdf.writeStream.foreachBatch(probe_and_extend)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_pairs(spark, pairs_path: str) -> DataFrame:
    """All pairs emitted so far, across batches."""
    return spark.read.parquet(f"{pairs_path}/batch_id=*")
