"""Search-index freshness job — the TARGET_LAG analog.

The reference's search service auto-refreshed within 1 minute of base-table
change (CREATE CORTEX SEARCH SERVICE ... TARGET_LAG = '1 minute',
epa_ingestion.py:844-854). Spark-native equivalent: a Structured Streaming
job over a stream of change rows (the txlog change-feed shape: full row
images tagged insert/delete) that refreshes a transactional search index
(``storage/txindex.py``) once per micro-batch:

  readStream(change rows)
    -> foreachBatch(refresh_tx_search_index)  # one new generation per batch
  with trigger(processingTime='60 seconds')   # the 1-minute lag budget
  or trigger(availableNow=True)               # batch catch-up mode

Every piece is maintained (postings, doclens, stats, frontier and the WAND
bounds), so max-score serving stays exact between full rebuilds. Each
generation publishes atomically: serving snapshots never see a half-applied
batch. The ``(app_id, batch_id)`` marker in the manifest makes a replayed
micro-batch a no-op (foreachBatch is at-least-once after a crash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def start_index_maintainer(
    changes_stream: DataFrame,
    spark: SparkSession,
    index_path: str,
    checkpoint: str,
    app_id: str = "search-index-maintainer",
    id_col: str = "id",
    text_col: str = "text",
    change_col: str = "_change_type",
    lag_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Run the whole-index maintainer with the 1-minute freshness
    budget (``processingTime``) or as a batch catch-up (``availableNow``
    — drains everything then stops). The reference's TARGET_LAG covered
    the entire search service, epa_ingestion.py:844-854, so every piece
    of the index at ``index_path`` (a ``materialize_tx_search_index``
    layout) is refreshed, not just postings. ``changes_stream`` is a
    streaming frame of row images tagged insert/delete in
    ``change_col``."""
    writer = (
        changes_stream.writeStream.outputMode("update")
        .foreachBatch(
            tx_index_refresh_sink(
                spark, index_path, app_id,
                id_col=id_col, text_col=text_col, change_col=change_col,
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{lag_seconds} seconds")
    return writer.start()


def tx_index_refresh_sink(
    spark: SparkSession,
    index_path: str,
    app_id: str,
    id_col: str = "id",
    text_col: str = "text",
    change_col: str = "_change_type",
):
    """``foreachBatch`` callable maintaining a TRANSACTIONAL index
    layout (storage/txindex.py): each micro-batch publishes one new
    manifest generation, so concurrent serving snapshots never observe
    a mid-refresh layout and a crash mid-batch leaves the prior
    generation intact (the replayed batch re-runs the whole refresh
    from the still-pinned snapshot after rolling back the torn piece
    commits). The ``(app_id, batch_id)`` marker rides the manifest."""
    from ..storage.txindex import refresh_tx_search_index

    def write_batch(batch_df, batch_id: int) -> None:
        # recover_torn is safe HERE because foreachBatch is the single
        # writer by construction: a tip/pin drift at batch start can
        # only be this query's own crashed predecessor (publish never
        # happened, so the txn marker didn't advance and the batch
        # replays), never a concurrent refresh
        refresh_tx_search_index(
            spark,
            index_path,
            batch_df,
            id_col=id_col,
            text_col=text_col,
            change_col=change_col,
            txn=(app_id, int(batch_id)),
            recover_torn=True,
        )

    return write_batch
