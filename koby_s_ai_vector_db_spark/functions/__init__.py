from koby_s_ai_vector_db_spark.functions.vectors import (
    dot,
    l2_norm,
    l2_normalize,
)
from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32, portable_hash64

__all__ = ["l2_norm", "l2_normalize", "dot", "portable_hash32", "portable_hash64"]
