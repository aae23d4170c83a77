"""Streaming incremental deduplication: fold every micro-batch of
documents into the persisted dedup state (`operators/llm/incremental`)
as it arrives — the composition of the round-10 incremental path with
the foreachBatch discipline the rest of `streaming/` uses.

This is the always-on corpus-ingest shape: a crawler drops document
files into a directory; each micro-batch is exact-collapsed, LSH-probed
against the STATE (never against the whole history), and the state
tables advance by one epoch snapshot.  Survivor semantics are identical
to the batch pipeline by construction — `dedup_state_apply` is the same
function `tests/test_incremental_dedup.py` pins against the from-scratch
build, and `tests/test_streaming.py` re-pins the STREAMED fold (forced
micro-batch boundaries) against `dedup_state_build` over the full
corpus.

State/retry discipline (same as `AsofEnrichState`): state snapshots land
under ``state_dir/epoch=N`` and the per-epoch delta under
``out_dir/epoch=N`` with mode=overwrite, so an at-least-once retried
epoch REWRITES its output from the prior epoch's snapshot instead of
double-applying — end-to-end idempotent.  Only the last two snapshots
are kept.

Reference parity: the reference has no dedup at all (its surface is
scan/count, `timeseries_db.cpp:29-233`); this is a north-star LLM-
pipeline capability (SURVEY §2.2 "LLM-pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.llm.incremental import (
    dedup_state_apply,
    dedup_state_build,
    load_dedup_state,
    load_survivors,
    save_dedup_state,
)
from .epochs import epoch_dir, prior_epoch, prune_epochs, state_epochs

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


class StreamingDedup:
    """foreachBatch driver that folds document micro-batches into
    epoch-snapshotted dedup state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        par: int,
        bands_lookup: DataFrame | None = None,
        snapshot_files: int | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.par = par
        # per-table part-file cap for epoch snapshots (see
        # save_dedup_state): fixture-scale states set a small value so
        # per-epoch commit overhead stays bounded; cluster-scale states
        # leave None (files sized by the shuffle layout)
        self.snapshot_files = snapshot_files
        # optional precomputed corpus signature table (see
        # operators/llm/incremental.corpus_band_rows): when the folded
        # stream replays a KNOWN immutable corpus (the q244 verdict,
        # backfills), band rows come from one materialized table
        # instead of per-epoch re-hashing; live ingest of unseen text
        # leaves it None
        self.bands_lookup = bands_lookup

    def process_batch(self, docs: DataFrame, epoch_id: int) -> DataFrame:
        """Fold one micro-batch; snapshot the post-batch state and
        return the delta (doc_id, cluster_id, status).  An epoch_id
        behind the newest snapshot (a fresh checkpoint against an old
        state_dir) raises (`epochs.prior_epoch`) instead of folding into
        a snapshot the retention deletes while ``survivors()`` serves
        the stale epoch."""
        prior = prior_epoch(self.state_dir, epoch_id)
        if prior is None:
            new_state = dedup_state_build(
                docs, self.par, bands_lookup=self.bands_lookup
            )
            delta = new_state.members.select(
                "doc_id",
                "cluster_id",
                F.when(
                    F.col("doc_id") == F.col("cluster_id"), "survivor"
                )
                .otherwise("duplicate")
                .alias("status"),
            )
        else:
            state = load_dedup_state(
                self.spark, epoch_dir(self.state_dir, prior)
            )
            new_state, delta = dedup_state_apply(
                state, docs, self.par, bands_lookup=self.bands_lookup
            )
        save_dedup_state(
            new_state,
            epoch_dir(self.state_dir, epoch_id),
            target_files=self.snapshot_files,
        )
        prune_epochs(self.state_dir)
        return delta

    def survivors(self) -> DataFrame:
        """Survivor set from the LATEST snapshot (members table only —
        the one parquet relation a survivors read needs)."""
        epochs = state_epochs(self.state_dir)
        if not epochs:
            raise ValueError("no dedup state snapshots yet")
        return load_survivors(
            self.spark, epoch_dir(self.state_dir, epochs[-1])
        )


def dedup_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    max_files_per_trigger: int | None = 1,
) -> StreamingDedup:
    """Dedup everything currently under ``source_dir`` as a stream of
    document-file micro-batches (AvailableNow; a production ingest runs
    the identical query on a perpetual trigger).  Returns the
    :class:`StreamingDedup` whose ``survivors()`` reads the final
    state."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.parquet(source_dir)
    fold = StreamingDedup(
        spark, state_dir, spark.sparkContext.defaultParallelism
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = fold.process_batch(batch_df, epoch_id)
        delta.write.mode("overwrite").parquet(epoch_dir(out_dir, epoch_id))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return fold
