from ig_etl_sync_spark.streaming.sync import streaming_sync

__all__ = ["streaming_sync"]
