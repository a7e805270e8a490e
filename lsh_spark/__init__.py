"""lsh_spark — PySpark-native LSH + training-data analytics engine.

Public API (see README.md for the full tour):

    from lsh_spark import (
        get_spark, register_all,
        lsh_min, lsh_min32, lsh_min_shingles, lsh_min32_shingles,
        lsh_jaccard, lsh_euclidean, lsh_euclidean32,
    )
    from lsh_spark.operators.similarity_join import (
        lsh_similarity_join, lsh_self_dedup_pairs, lsh_dedup_keep_first)
"""

from .plans import zipcache as _zipcache

# before any library UDF runs in a Python worker: see plans/zipcache.py
_zipcache.install()

from .functions.lsh import (  # noqa: E402
    lsh_euclidean,
    lsh_euclidean32,
    lsh_jaccard,
    lsh_min,
    lsh_min32,
    lsh_min32_shingles,
    lsh_min_shingles,
)
from .functions.register import register_all  # noqa: E402
from .plans.session import get_spark  # noqa: E402

__all__ = [
    "get_spark",
    "register_all",
    "lsh_min",
    "lsh_min32",
    "lsh_min_shingles",
    "lsh_min32_shingles",
    "lsh_jaccard",
    "lsh_euclidean",
    "lsh_euclidean32",
]

__version__ = "0.1.0"
