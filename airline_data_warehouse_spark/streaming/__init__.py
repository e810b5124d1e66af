from __future__ import annotations


def start_foreach_batch(stream, body, checkpoint_dir: str | None = None):
    """Start ``stream`` with ``body(batch_df, batch_id)`` as its
    foreachBatch sink. Each micro-batch runs inside its own
    `cache_scope()`, so the caches a batch persists are released when
    it ends and never another query's. No checkpoint when
    ``checkpoint_dir`` is None."""
    from airline_data_warehouse_spark.operators.dedup import cache_scope

    def run(batch_df, batch_id):
        with cache_scope():
            body(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
