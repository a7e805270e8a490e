"""SQL registration — the Spark analog of the reference's extension
entrypoint (``src/lib.rs:40-52``: ``LOAD lsh`` registers five scalar
functions into the catalog).

``register_all(spark)`` registers session-scoped SQL functions so
``spark.sql("SELECT lsh_min(name, 2, 3, 2, 123) ...")`` works.  SQL has no
overloading on one name, so the LIST(VARCHAR) overloads get ``_shingles``
suffixes (divergence documented in README).

In SQL form the tuning parameters arrive as *columns*; each wrapper asserts
they are constant within the Arrow batch and errors with the reference's
message otherwise (``src/lib.rs:29-38``:
"{param} must be a constant value, not vary per row").
"""

from __future__ import annotations

# module-level: arrow_udf resolves the ``pa.Array`` hints by name
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, DecimalType, DoubleType, LongType

from .lsh import (
    _euclidean_mat,
    _jaccard_texts,
    _minhash_shingle_mat,
    _minhash_text_mat,
    _u64_list,
)

_DEC_ARRAY = ArrayType(DecimalType(20, 0))
_LONG_ARRAY = ArrayType(LongType())


def _const(arr: pa.Array, name: str):
    vals = arr.unique()
    if len(vals) > 1:
        raise ValueError(f"{name} must be a constant value, not vary per row")
    return vals[0].as_py()


def _make_min_sql(low32: bool):
    ret = _LONG_ARRAY if low32 else _DEC_ARRAY

    @arrow_udf(ret)
    def _udf(text: pa.Array, w: pa.Array, bc: pa.Array, bs: pa.Array,
             seed: pa.Array) -> pa.Array:
        width = int(_const(w, "ngram_width"))
        band_count = int(_const(bc, "band_count"))
        band_size = int(_const(bs, "band_size"))
        sd = int(_const(seed, "seed"))
        mat, mask = _minhash_text_mat(text, width, band_count, band_size, sd)
        return _u64_list(mat, mask, "low32" if low32 else "decimal")

    return _udf


def _make_min_shingles_sql(low32: bool):
    ret = _LONG_ARRAY if low32 else _DEC_ARRAY

    @arrow_udf(ret)
    def _udf(shingles: pa.Array, bc: pa.Array, bs: pa.Array,
             seed: pa.Array) -> pa.Array:
        band_count = int(_const(bc, "band_count"))
        band_size = int(_const(bs, "band_size"))
        sd = int(_const(seed, "seed"))
        mat, mask = _minhash_shingle_mat(shingles, band_count, band_size, sd)
        return _u64_list(mat, mask, "low32" if low32 else "decimal")

    return _udf


@arrow_udf(DoubleType())
def _jaccard_sql(a: pa.Array, b: pa.Array, w: pa.Array) -> pa.Array:
    return _jaccard_texts(a, b, int(_const(w, "ngram_width")))


def _make_euclidean_sql(low32: bool):
    ret = _LONG_ARRAY if low32 else _DEC_ARRAY

    @arrow_udf(ret)
    def _udf(arr: pa.Array, bw: pa.Array, bc: pa.Array, bs: pa.Array,
             seed: pa.Array) -> pa.Array:
        bucket_width = float(_const(bw, "bucket_width"))
        band_count = int(_const(bc, "band_count"))
        band_size = int(_const(bs, "band_size"))
        sd = int(_const(seed, "seed"))
        mat, mask = _euclidean_mat(arr, bucket_width, band_count, band_size, sd)
        return _u64_list(mat, mask, "low32" if low32 else "decimal")

    return _udf


def register_all(spark: SparkSession) -> None:
    """Register every reference function name for ``spark.sql`` use.

    Names: lsh_min, lsh_min_shingles, lsh_min32, lsh_min32_shingles,
    lsh_jaccard, lsh_euclidean, lsh_euclidean32.
    """
    spark.udf.register("lsh_min", _make_min_sql(low32=False))
    spark.udf.register("lsh_min32", _make_min_sql(low32=True))
    spark.udf.register("lsh_min_shingles", _make_min_shingles_sql(low32=False))
    spark.udf.register("lsh_min32_shingles", _make_min_shingles_sql(low32=True))
    spark.udf.register("lsh_jaccard", _jaccard_sql)
    spark.udf.register("lsh_euclidean", _make_euclidean_sql(low32=False))
    spark.udf.register("lsh_euclidean32", _make_euclidean_sql(low32=True))
