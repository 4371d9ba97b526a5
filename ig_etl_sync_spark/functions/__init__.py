from ig_etl_sync_spark.functions.hashing import change_hash, record_fingerprint, with_change_hash
from ig_etl_sync_spark.functions.vectors import cosine_similarity, dot_product, l2_norm

__all__ = [
    "change_hash",
    "record_fingerprint",
    "with_change_hash",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
