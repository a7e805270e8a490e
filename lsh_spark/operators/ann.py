"""Approximate/exact nearest-neighbor search over embedding columns.

Two tiers (SURVEY's "similarity search" requirement):

  * ``cosine_topk`` — exact brute-force: query⨯corpus crossJoin with the
    JVM-side cosine, ranked per query with deterministic tie-breaking.
    The baseline and the oracle-able path.  Scales as
    |Q|×|corpus| — fine for bounded query sets (the standard rerank
    stage); the corpus side stays partitioned, queries broadcast.
  * ``euclidean_lsh_topk`` — scale path: the reference's own
    ``lsh_euclidean`` bucketing as the blocking key (band equi-join ⇒
    only same-bucket candidates scored), exact cosine rerank on
    candidates, top-k per query.  Recall < 1 by construction (LSH), so
    driver-checked rows-only; quality is asserted in tests via recall
    against brute force.

Cosine values are rounded to 6dp in ranking/output so ordering is stable
across engines (ties broken by vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.lsh import lsh_euclidean_bands_long
from ..functions.vector import cosine, dot, l2_distance, norm
from ..sources import index as ix


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim, rank); self-matches
    (same id) excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", norm("__qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm("__cv"))
    # norms precomputed per vector (identical op sequence to the inline
    # cosine → bit-identical to the oracle); the |Q|×|corpus| stage does
    # one dot product and a scalar multiply per pair
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__cn") > 0),
        dot("__qv", "__cv") / (F.col("__qn") * F.col("__cn")),
    ).otherwise(F.lit(0.0))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def sq8_bounds(corpus: DataFrame, *, vec_col: str, dim: int) -> DataFrame:
    """Single-row (__mn, __mx) per-dimension bounds frame — one
    map-side-combined aggregate (dim min/max expressions, no explode),
    broadcastable by construction.  min/max are order-independent, so
    the bounds are bit-identical across engines and runs.

    Element access is ``F.get`` (NULL out-of-bounds): under Spark 4
    ANSI mode ``__v[i]`` RAISES INVALID_ARRAY_INDEX on a short vector
    (probe-confirmed), while DuckDB's ``cv[i]`` yields NULL — F.get
    restores the cross-engine NULL contract and min/max skip NULLs
    identically on both sides."""
    v = F.col(vec_col).cast("array<double>").alias("__v")
    # one F.expr parse per array instead of 2·dim Column round-trips —
    # canonically identical plan (see the _sq8_*_sql twins below)
    return corpus.select(v).agg(
        F.expr("array(" + ", ".join(
            f"min(get(__v, {i}))" for i in range(dim)) + ")")
        .alias("__mn"),
        F.expr("array(" + ", ".join(
            f"max(get(__v, {i}))" for i in range(dim)) + ")")
        .alias("__mx"),
    )


def _sq8_rng(i):
    mn = F.element_at(F.col("__mn"), i + F.lit(1))
    mx = F.element_at(F.col("__mx"), i + F.lit(1))
    return mn, mx, mx - mn


# SQL-text twins of the _sq8_quant/_sq8_dequant Column builders: per-dim
# expression construction through the Column API pays one py4j
# round-trip PER OPERATOR (the 64-dim report measured 25k round-trips =
# 3.7 s of driver wall before any job ran), while one F.expr parse of
# the same text is a single call.  The text forms produce CANONICALLY
# IDENTICAL optimized plans to the Column builders (pinned by
# tests/test_round15_ops.py::test_sq8_sql_text_plans_identical), so the
# executed double op sequence — the oracle contract — is untouched.

def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of ``functions.vector.dot`` (sequential zip_with +
    aggregate fold — the oracle's left-to-right IEEE order)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)")


def _sqdist_sql(a: str, b: str) -> str:
    """SQL-text twin of ``_sqdist_mirror``: ``(aa - (2*ab)) + bb``."""
    return (f"(({_dot_sql(a, a)} - (2.0D * {_dot_sql(a, b)}))"
            f" + {_dot_sql(b, b)})")


def _lit_sql_double(x) -> str:
    """SQL double literal with Python-repr round-trip exactness (repr
    emits the shortest digits that parse back to the identical double;
    both engines' parsers take nearest-double of the same digits).
    Non-finite values raise: ``repr`` would render 'nanD'/'infD', which
    the SQL parser rejects with an opaque error — a NaN here means a
    degenerate codebook/centroid upstream and deserves a loud name."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(
            f"non-finite double literal {v!r} in a SQL expression "
            "(degenerate codebook/centroid upstream?)")
    return repr(v) + "D"


def _lit_sql_long(v: int) -> str:
    """SQL integer literal typed the way ``F.lit(int)`` types it:
    IntegerType while the value fits 32 bits, LongType beyond."""
    return str(v) if -2**31 <= v < 2**31 else f"{v}L"


def _codebook_rows_df(spark, books):
    """(sub, cell, centroid) literal rows for a trained PQ codebook set,
    as ONE parsed expression (the per-float ``F.lit`` Column form paid a
    py4j round-trip per double — hundreds per book — before any job
    ran).  Same literal-projection contract as before: never a
    createDataFrame-backed local relation."""
    rows = []
    for s, b in enumerate(books):
        cells, mat = b.value
        for j in range(len(cells)):
            rows.append(
                "named_struct('sub', %d, 'cell', %d, 'centroid',"
                " array(%s))" % (
                    s, int(cells[j]),
                    ", ".join(_lit_sql_double(x) for x in mat[j])))
    return (
        spark.range(1)
        .select(F.explode(F.expr(
            "array(" + ", ".join(rows) + ")")).alias("__r"))
        .select("__r.sub", "__r.cell", "__r.centroid")
    )


def _sq8_rng_sql(i: int) -> tuple[str, str, str]:
    mn = f"element_at(__mn, {i + 1})"
    mx = f"element_at(__mx, {i + 1})"
    return mn, mx, f"({mx} - {mn})"


def _sq8_quant_sql(x: str, i: int) -> str:
    mn, mx, rng = _sq8_rng_sql(i)
    return (f"CAST(CASE WHEN ({mx} > {mn}) THEN "
            f"least(greatest(floor((({x} - {mn}) * 255.0D) / {rng}"
            f" + 0.5D), 0), 255) ELSE 0 END AS SMALLINT)")


def _sq8_dequant_sql(code: str, i: int) -> str:
    mn, mx, rng = _sq8_rng_sql(i)
    return (f"CASE WHEN ({mx} > {mn}) THEN ({mn} + "
            f"(CAST({code} AS DOUBLE) * {rng}) / 255.0D) ELSE {mn} END")


def _sq8_quant(x, i):
    """int8 code for element x at 0-based dim i against the broadcast
    (__mn, __mx) row: ``least(greatest(floor(((x-mn)·255)/rng + ½), 0),
    255)`` — the clamp is an identity for in-bounds x (build-time
    bounds ARE the corpus min/max) and linear-extrapolation-safe for
    out-of-range values quantized later against FROZEN index bounds
    (extend_ivf_index)."""
    mn, mx, rng = _sq8_rng(i)
    code = F.least(
        F.greatest(F.floor(((x - mn) * F.lit(255.0)) / rng + F.lit(0.5)),
                   F.lit(0)),
        F.lit(255))
    return F.when(mx > mn, code).otherwise(F.lit(0)).cast("smallint")


def _sq8_dequant(c, i):
    """Reconstruction ``mn + (code·rng)/255`` — with ``_sq8_quant`` this
    composes to the EXACT oracle-mirrored sequence
    ``mn + (floor(((x-mn)·255)/rng + ½)·rng)/255`` (smallint→double is
    exact for 0..255)."""
    mn, mx, rng = _sq8_rng(i)
    return F.when(mx > mn,
                  mn + (c.cast("double") * rng) / F.lit(255.0)).otherwise(mn)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors against an 8-bit SCALAR-QUANTIZED corpus —
    the memory-bound ANN shape for a 100 TB embedding table, where
    float32 vectors don't fit the scan budget and int8 codes (4× smaller,
    16× vs float64) do.

    Per-dimension [min, max] bounds come from ONE aggregate (dim min/max
    expressions, map-side combined — no explode, no extra shuffle); each
    corpus vector is quantized to ``code = floor((x-mn)·255/(mx-mn) + ½)``
    and scored DEQUANTIZED (``x̂ = mn + code·(mx-mn)/255``) against
    full-precision queries, so the entire encode→score chain is plain
    IEEE float64 arithmetic a SQL oracle replays bit-for-bit.  In a
    persisted deployment the codes are what you store and scan — here
    ``array<smallint>`` carrying uint8 values 0..255 (Spark's tinyint is
    SIGNED, so 0..255 doesn't fit it; a production sink would pack the
    codes into binary); the on-the-fly form keeps the gate oracle exact.
    Returns (query_id, neighbor_id, cosine_sim, rank) like
    ``cosine_topk``; constant-dimension corpora only."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", norm("__qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    bounds = sq8_bounds(corpus, vec_col=vec_col, dim=dim)
    deq = (
        c.crossJoin(F.broadcast(bounds))
        .select("neighbor_id",
                F.transform("__cv",
                            lambda x, i: _sq8_dequant(_sq8_quant(x, i), i)
                            ).alias("__xv"))
        .withColumn("__cn", norm("__xv"))
    )
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__cn") > 0),
        dot("__qv", "__xv") / (F.col("__qn") * F.col("__cn")),
    ).otherwise(F.lit(0.0))
    scored = (
        F.broadcast(q).crossJoin(deq)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def euclidean_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    bucket_width: float = 2.0,
    band_count: int = 8,
    band_size: int = 1,
    seed: int = 123,
) -> DataFrame:
    """LSH-bucketed ANN: candidates = vectors sharing ≥1 Euclidean-LSH
    bucket with the query (the reference's lsh_euclidean as blocking key),
    reranked by exact cosine.

    Wide buckets + single-hash bands keep recall high; at 100 TB the
    bucket join replaces the cross product with a shuffle bounded by
    band_count × rows."""

    def blocks(df: DataFrame, out_id: str) -> DataFrame:
        # the blocking join ships ONLY (id, band_idx, band_hash) — vectors
        # re-attach to surviving unique candidate pairs by id
        bands = lsh_euclidean_bands_long(
            F.col(vec_col).cast("array<double>"),
            bucket_width, band_count, band_size, seed)
        return (
            df.select(F.col(id_col).alias(out_id), bands.alias("__bands"))
            .select(out_id,
                    F.posexplode("__bands").alias("band_idx", "band_hash"))
        )

    vec = lambda df, out_id: df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(f"__v_{out_id}"))
    qb = blocks(queries, "query_id")
    cb = blocks(corpus, "neighbor_id")
    candidates = (
        qb.join(cb, on=["band_idx", "band_hash"], how="inner")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(F.broadcast(vec(queries, "query_id")), on="query_id")
        .join(vec(corpus, "neighbor_id"), on="neighbor_id")
    )
    scored = candidates.withColumn(
        "cosine_sim",
        F.round(cosine("__v_query_id", "__v_neighbor_id"), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _sqdist_mirror(a, b) -> "F.Column":
    """Squared L2 via the dot-product identity, in the EXACT expression
    shape ``(aa - (2*ab)) + bb`` the DuckDB oracle mirrors — same IEEE op
    sequence on both engines, so cell argmins agree bit-for-bit."""
    return (dot(a, a) - (F.lit(2.0) * dot(a, b))) + dot(b, b)


def _cells_array(corpus: DataFrame, id_col: str, vec_col: str,
                 n_lists: int) -> DataFrame:
    """Single-row DataFrame holding the centroid table as one array of
    (cell, centroid) structs — the ``n_lists`` lowest-id corpus vectors,
    cell = rank by id.  Tiny by construction → broadcast."""
    w = Window.orderBy("__cid")
    cent = (
        corpus.select(F.col(id_col).alias("__cid"),
                      F.col(vec_col).cast("array<double>").alias("__cv"))
        .orderBy("__cid").limit(n_lists)
        .withColumn("__cell", F.row_number().over(w) - 1)
    )
    return cent.agg(F.sort_array(
        F.collect_list(F.struct("__cell", "__cv"))).alias("__cents"))


def _ivf_prep(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(f"__v_{out_id}"))


def _ivf_dists(vec: str) -> "F.Column":
    """(d2, cell) per centroid over the broadcast ``__cents`` struct array;
    struct array_min/array_sort orders by d2 then cell — identical to the
    oracle's ORDER BY d2 ASC, cell ASC."""
    return F.transform(
        "__cents",
        lambda ct: F.struct(
            _sqdist_mirror(F.col(vec), ct["__cv"]).alias("d2"),
            ct["__cell"].alias("cell")))


def _collect_centroids(cents: DataFrame):
    """Materialize the (n_lists-row) centroid table to numpy and
    broadcast it to the Python workers.  Runs one tiny driver job at
    plan-construction time — the SAME data the in-plan broadcast would
    collect to the driver at execution (cf. ``_should_broadcast`` /
    ``_collect_sets_broadcast`` in similarity_join), traded for removing
    the rows × cells × dim INTERPRETED expression work of the HOF
    distance fold (higher-order functions never enter whole-stage
    codegen; measured superlinear wall growth once cells scale with the
    corpus)."""
    import numpy as np

    from ..plans.cache import track_broadcast

    head = cents.first()
    row = head["__cents"] if head is not None else None
    if not row:
        raise ValueError(
            "no centroids: the corpus is empty or n_lists == 0 — IVF "
            "needs at least one non-null vector and one list")
    order = sorted(row, key=lambda r: r["__cell"])
    cells = np.array([r["__cell"] for r in order], dtype=np.int32)
    mat = np.array([list(r["__cv"]) for r in order], dtype=np.float64)
    sc = cents.sparkSession.sparkContext
    return track_broadcast(sc.broadcast((cells, mat)))


def _assign_cells_pandas(df: DataFrame, bc, vec_field: str,
                         *, n_probe: "int | None" = None) -> DataFrame:
    """Append ``__cell`` via the numpy mirror of the HOF distance fold:
    d2 = (dot(a,a) - (2·dot(a,b))) + dot(b,b) with dimension-major
    accumulation — the exact sequential IEEE sequence of
    ``_sqdist_mirror``, so argmin/top-``n_probe`` cells (ties broken by
    ascending cell, via first-occurrence argmin / stable argsort over
    the cell-ordered columns) are bit-identical to the in-plan HOF form
    and to the DuckDB oracle.

    ``n_probe=None`` appends the single nearest cell; an integer
    replicates each row once per probed cell."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(list(df.schema.fields)
                        + [StructField("__cell", IntegerType())])

    def tile_dots(A, B):
        acc = np.zeros((A.shape[0], B.shape[0]))
        for kk in range(A.shape[1]):
            acc += np.outer(A[:, kk], B[:, kk])
        return acc

    def row_sq(A):
        acc = np.zeros(A.shape[0])
        for kk in range(A.shape[1]):
            acc += A[:, kk] * A[:, kk]
        return acc

    def gen(batches):
        cells, C = bc.value
        bb = row_sq(C)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_field].to_numpy()).astype(np.float64)
            aa = row_sq(M)
            d2 = (aa[:, None] - (2.0 * tile_dots(M, C))) + bb[None, :]
            if n_probe is None:
                out = pdf.copy()
                out["__cell"] = cells[d2.argmin(axis=1)]
                yield out
            else:
                top = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
                rep = pdf.loc[pdf.index.repeat(top.shape[1])].copy()
                rep["__cell"] = cells[top].ravel()
                yield rep

    return df.mapInPandas(gen, schema)


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF search stage: assign corpus to cells (zero-shuffle
    numpy argmin against the broadcast centroid matrix), probe
    ``n_probe`` cells per query, exact cosine rerank inside."""
    bc = _collect_centroids(cents)
    c_cells = _assign_cells_pandas(
        _ivf_prep(corpus, id_col, vec_col, "neighbor_id"), bc,
        "__v_neighbor_id")
    probes = _assign_cells_pandas(
        _ivf_prep(queries, id_col, vec_col, "query_id"), bc,
        "__v_query_id", n_probe=n_probe)
    scored = (
        probes.join(c_cells, on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim",
                    F.round(cosine("__v_query_id", "__v_neighbor_id"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_flat_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with a training-free coarse quantizer: the ``n_lists``
    lowest-id corpus vectors ARE the centroids (no Lloyd iterations), so
    every step is deterministic and the DuckDB oracle reproduces the whole
    index — cells, probes, rerank — bit-for-bit.  ``ivf_lloyd_topk``
    upgrades the quantizer with deterministic Lloyd iterations; ``ivf_topk``
    uses MLlib KMeans (better-studied trainer, but not SQL-reproducible).

    The 100 TB shape is stricter than KMeans-IVF's: cell assignment is a
    pure projection (argmin over a broadcast centroid array — ZERO
    shuffle, no groupBy), the corpus shuffles ONCE by cell, and each query
    probes ``n_probe`` cells."""
    cents = _cells_array(corpus, id_col, vec_col, n_lists)
    return _ivf_search(corpus, queries, cents, vec_col=vec_col,
                       id_col=id_col, k=k, n_probe=n_probe)


# 2^20 fixed-point scale for exact, reduction-order-independent centroid
# sums.  floor(x*S + 0.5) is identical arithmetic in Spark and DuckDB
# (unlike round(), whose half-way tie rule differs per engine, and unlike
# double→long casts, which truncate in Spark but round in DuckDB).  With
# |component| ≤ ~1e3 the scaled per-vector term is ≤ 2^30, so int64 sums
# hold exactly up to ~2^33 vectors per cell — far past 100 TB cell sizes.
_FP_SCALE = 1048576.0


def lloyd_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    n_iters: int = 2,
) -> DataFrame:
    """Deterministic distributed Lloyd's KMeans for the IVF coarse
    quantizer: init = the ``n_lists`` lowest-id corpus vectors, then
    ``n_iters`` assign/update rounds.  Returns a single-row DataFrame with
    the centroid table as one sorted array of (cell, centroid) structs
    (broadcast-ready, same shape as the flat quantizer's).

    Reproducibility design (this is what makes the DuckDB oracle exact):
    the centroid mean runs in fixed-point — each component is scaled by
    2^20 and floored to int64, summed exactly (integer addition is
    associative/commutative, so Spark's shuffle-order reduction and
    DuckDB's sequential sum agree bit-for-bit), then divided back in one
    fixed op sequence ``(s/n)/S``.  Assignment argmin uses the same
    ``(aa - 2ab) + bb`` squared-distance expression as the search stage,
    with ties broken by cell id.

    Scale shape: assignment is a zero-shuffle projection against the
    broadcast centroid array; the update is a map-side-combinable
    (cell, pos) sum — one shuffle of n_lists × dim rows per iteration."""
    vecs = corpus.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).cast("array<double>").alias("__v"))
    cent = (
        _cells_array(corpus, id_col, vec_col, n_lists)
        .select(F.explode("__cents").alias("__c"))
        .select(F.col("__c.__cell").alias("__cell"),
                F.col("__c.__cv").alias("__cv"))
    )
    for _ in range(n_iters):
        cents_row = cent.agg(F.sort_array(
            F.collect_list(F.struct("__cell", "__cv"))).alias("__cents"))
        # assignment via the numpy mirror kernel (see _assign_cells_pandas
        # — the in-plan HOF fold is interpreted and costs rows×cells×dim
        # per iteration); each iteration is inherently sequential, so the
        # per-iteration centroid collect adds no extra synchronization
        assigned = _assign_cells_pandas(
            vecs, _collect_centroids(cents_row), "__v")
        new_cent = (
            assigned.select(
                "__cell", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("__cell", "__pos")
            .agg(F.sum(F.floor(F.col("__val") * F.lit(_FP_SCALE)
                               + F.lit(0.5))).alias("__s"),
                 F.count(F.lit(1)).alias("__n"))
            .withColumn("__comp",
                        (F.col("__s").cast("double")
                         / F.col("__n").cast("double")) / F.lit(_FP_SCALE))
            .groupBy("__cell")
            .agg(F.array_sort(
                F.collect_list(F.struct("__pos", "__comp"))).alias("__pc"))
            .select("__cell",
                    F.transform("__pc", lambda st: st["__comp"])
                    .alias("__cv_new"))
        )
        # a cell that attracted no vectors keeps its previous centroid
        cent = (
            cent.join(new_cent, on="__cell", how="left")
            .select("__cell",
                    F.coalesce("__cv_new", "__cv").alias("__cv"))
        )
    return cent.agg(F.sort_array(
        F.collect_list(F.struct("__cell", "__cv"))).alias("__cents"))


def ivf_lloyd_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer that is still bit-exactly
    SQL-reproducible: deterministic fixed-point Lloyd's KMeans
    (``lloyd_centroids``) instead of MLlib's RNG-dependent trainer.  Gets
    KMeans-quality cells AND a full hash-match DuckDB oracle — the best of
    ``ivf_topk`` (cell quality) and ``ivf_flat_topk`` (determinism)."""
    cents = lloyd_centroids(corpus, vec_col=vec_col, id_col=id_col,
                            n_lists=n_lists, n_iters=n_iters)
    return _ivf_search(corpus, queries, cents, vec_col=vec_col,
                       id_col=id_col, k=k, n_probe=n_probe)


def _pq_encode_pandas(df: DataFrame, bcs, vec_field: str) -> DataFrame:
    """Append ``__code_0..__code_{m-1}`` — each subvector's nearest
    codebook entry — in ONE corpus pass (no per-subspace joins): the
    numpy mirror of the ``(aa - 2ab) + bb`` argmin per subspace slice,
    dimension-major accumulation, first-occurrence ties (the
    ``_assign_cells_pandas`` discipline applied m times per batch
    against the m broadcast codebooks)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    m = len(bcs)
    schema = StructType(
        list(df.schema.fields)
        + [StructField(f"__code_{s}", IntegerType()) for s in range(m)])

    def tile_dots(A, B):
        acc = np.zeros((A.shape[0], B.shape[0]))
        for kk in range(A.shape[1]):
            acc += np.outer(A[:, kk], B[:, kk])
        return acc

    def row_sq(A):
        acc = np.zeros(A.shape[0])
        for kk in range(A.shape[1]):
            acc += A[:, kk] * A[:, kk]
        return acc

    def gen(batches):
        books = [b.value for b in bcs]
        width = books[0][1].shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_field].to_numpy()).astype(np.float64)
            out = pdf.copy()
            for s, (cells, C) in enumerate(books):
                Ms = M[:, s * width:(s + 1) * width]
                d2 = (row_sq(Ms)[:, None]
                      - (2.0 * tile_dots(Ms, C))) + row_sq(C)[None, :]
                out[f"__code_{s}"] = cells[d2.argmin(axis=1)]
            yield out

    return df.mapInPandas(gen, schema)


def _train_pq_books(corpus: DataFrame, *, vec_col: str, id_col: str,
                    m: int, width: int, n_codes: int, n_iters: int):
    """Train the ``m`` independent subspace codebooks from CONCURRENT
    driver threads and return the collected broadcasts in subspace
    order.  Each book's Lloyd chain is a sequence of tiny single-task
    driver jobs (per-iteration centroid collects — profiled at sf0.1:
    the PQ queries' wall is ~100 such jobs run back-to-back, scheduler
    latency, not compute), and the books share nothing, so overlapping
    them cuts the training wall ~m-fold while every collected codebook
    stays bit-identical — per-book arithmetic and job DAGs are
    untouched, only the submission order changes, and Spark's
    scheduler is thread-safe for concurrent actions."""
    from concurrent.futures import ThreadPoolExecutor

    def train(s: int):
        sl = corpus.select(
            F.col(id_col).alias("__vid"),
            F.slice(F.col(vec_col).cast("array<double>"),
                    s * width + 1, width).alias("__sv"))
        return _collect_centroids(
            lloyd_centroids(sl, vec_col="__sv", id_col="__vid",
                            n_lists=n_codes, n_iters=n_iters))

    # Cap concurrent driver threads (r13 advice): a large m (say 64
    # subspaces) would otherwise oversubscribe the very scheduler this
    # overlap relieves; ex.map preserves subspace order under any cap.
    with ThreadPoolExecutor(max_workers=min(int(m), 16)) as ex:
        return list(ex.map(train, range(m)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring (the
    FAISS PQ/ADC recipe): the vector splits into ``m`` contiguous
    subspaces, each trained to ``n_codes`` centroids by the
    deterministic fixed-point Lloyd's of ``lloyd_centroids`` (so the
    whole index — codebooks, codes, distances — is bit-exactly replayed
    by the DuckDB oracle), the corpus is stored as ``m`` small ints per
    vector, and each query scores candidates by summing per-subspace
    LUT lookups in subspace order.

    Returns (query_id, neighbor_id, approx_dist, rank): squared-L2
    estimate rounded to 6dp BEFORE ranking, ascending, ties on
    neighbor_id; self-matches excluded.

    100 TB shape — the compression story: the scored corpus carries
    ``m`` ints per vector instead of ``dim`` floats (m/8·dim of the raw
    bytes at float64), the codebooks and per-query LUTs broadcast
    (m · n_codes doubles per query), and the scoring expression is a
    FIXED m-term chain of ``element_at`` lookups — whole-stage codegen,
    no higher-order-function fold over corpus rows (the interpreted-HOF
    trap the IVF kernels document).  Encoding is one ``mapInPandas``
    corpus pass with zero shuffle."""
    if dim % m:
        raise ValueError(f"pq_topk: dim={dim} not divisible by m={m}")
    width = dim // m
    bcs = _train_pq_books(corpus, vec_col=vec_col, id_col=id_col, m=m,
                          width=width, n_codes=n_codes, n_iters=n_iters)
    codes = _pq_encode_pandas(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__v")),
        bcs, "__v").drop("__v")
    qs = _pq_query_luts(queries, [b.value for b in bcs],
                        vec_col=vec_col, id_col=id_col, width=width)
    return _pq_score(codes, qs, m=m, k=k)


def _pq_query_luts(queries: DataFrame, books_np, *, vec_col: str,
                   id_col: str, width: int) -> DataFrame:
    """Append ``__lut_0..__lut_{m-1}`` per query: d2 to every codebook
    entry, array-indexed by code.  Codebooks ride as LITERAL struct
    arrays rebuilt from the already-collected numpy (float64 literals
    round-trip exactly) — joining the Lloyd lineage here would make the
    executed plan re-train all m codebooks a second time.  Queries-side
    only — tiny, so the interpreted HOF is fine HERE; the corpus-side
    lookup in ``_pq_score`` stays codegen."""
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__q"))
    # the whole LUT projection as SQL text in ONE selectExpr: the
    # Column form paid a py4j round-trip per literal float (hundreds
    # per book) plus per-transform lambda construction and one plan
    # re-analysis per withColumn — measured seconds of driver wall
    # across the PQ family before any job ran.  The text parses to a
    # CANONICALLY IDENTICAL plan (same transform lambda, same
    # zip_with/aggregate dot chain, same literals — repr(float)
    # round-trips every double exactly in both engines); pinned by
    # test_pq_lut_sql_text_plans_identical.  The single-arg lambda
    # contract holds: `ct ->` is transform's element-only form.
    exprs = ["query_id"]
    for s, (cells, mat) in enumerate(books_np):
        qslice = f"slice(__q, {s * width + 1}, {width})"
        cent = "array(" + ", ".join(
            "named_struct('__cell', %s, '__cv', array(%s))" % (
                _lit_sql_long(int(cells[j])),
                ", ".join(_lit_sql_double(x) for x in mat[j]))
            for j in range(len(cells))) + ")"
        exprs.append(
            f"transform({cent}, ct -> "
            f"{_sqdist_sql(qslice, 'ct.__cv')}) AS __lut_{s}")
    return qs.selectExpr(*exprs)


def _pq_score(codes: DataFrame, qs_with_luts: DataFrame, *, m: int,
              k: int) -> DataFrame:
    """Shared ADC scoring tail (on-the-fly and persisted-index forms):
    crossJoin the broadcast (query, LUTs) frame onto the codes scan and
    sum the m ``element_at`` lookups in subspace order — the oracle's
    ``((0 + d_0) + d_1) + ...`` fold, whole-stage codegen."""
    pairs = codes.crossJoin(F.broadcast(qs_with_luts)).where(
        F.col("query_id") != F.col("neighbor_id"))
    dist = F.lit(0.0)
    for s in range(m):
        dist = dist + F.element_at(F.col(f"__lut_{s}"),
                                   F.col(f"__code_{s}") + F.lit(1))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 4,
    cells_iters: int = 2,
    m: int = 4,
    n_codes: int = 8,
    pq_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ — the full FAISS shape: a coarse Lloyd quantizer prunes
    the candidate set to ``n_probe`` cells per query, and within the
    probed cells the asymmetric-distance PQ chain scores compressed
    codes instead of raw vectors.  Codebooks are trained on the raw
    subvectors (FAISS ``by_residual=false``), which keeps every stage —
    coarse cells, PQ codes, ADC distances — bit-exactly replayed by the
    DuckDB oracle.

    Returns (query_id, neighbor_id, approx_dist, rank); 6-dp round
    before ranking, ascending, ties on neighbor_id; self excluded.

    100 TB shape: candidate work per query drops to
    ~|corpus|·n_probe/n_lists AND each candidate costs m int lookups
    instead of a dim-float scan — the two axes (pruning × compression)
    compose; both corpus passes (cell assign, encode) are zero-shuffle
    kernels, the scoring join keys on the broadcast probe cells, and a
    deployment persists (cell, codes) bucketed by cell."""
    if dim % m:
        raise ValueError(f"ivf_pq_topk: dim={dim} not divisible by m={m}")
    width = dim // m
    # the coarse quantizer and the m PQ codebooks are INDEPENDENT
    # corpus passes (by_residual=false — books train on raw subvectors,
    # never on coarse residuals), so the coarse Lloyd chain overlaps the
    # book pool instead of running serially ahead of it: both are
    # strings of tiny driver jobs whose wall is scheduler latency (the
    # _train_pq_books rationale), and the results are bit-identical —
    # only job submission order changes
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as ex:
        fut_bc = ex.submit(
            lambda: _collect_centroids(lloyd_centroids(
                corpus, vec_col=vec_col, id_col=id_col,
                n_lists=n_lists, n_iters=cells_iters)))
        books = _train_pq_books(corpus, vec_col=vec_col, id_col=id_col,
                                m=m, width=width, n_codes=n_codes,
                                n_iters=pq_iters)
        bc = fut_bc.result()
    assigned = _assign_cells_pandas(
        _ivf_prep(corpus, id_col, vec_col, "neighbor_id"), bc,
        "__v_neighbor_id")
    codes = _pq_encode_pandas(assigned, books, "__v_neighbor_id") \
        .drop("__v_neighbor_id")
    probes = _assign_cells_pandas(
        _ivf_prep(queries, id_col, vec_col, "query_id"), bc,
        "__v_query_id", n_probe=n_probe).select("query_id", "__cell")
    luts = _pq_query_luts(queries, [b.value for b in books],
                          vec_col=vec_col, id_col=id_col, width=width)
    pairs = codes.join(
        F.broadcast(probes.join(luts, "query_id")), on="__cell").where(
        F.col("query_id") != F.col("neighbor_id"))
    dist = F.lit(0.0)
    for s in range(m):
        dist = dist + F.element_at(F.col(f"__lut_{s}"),
                                   F.col(f"__code_{s}") + F.lit(1))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# persisted IVF-PQ index — the standing-deployment form of ivf_pq_topk:
# (cell, codes) rows bucketed BY CELL, so probes read only matching
# buckets (no corpus-side exchange) and scan m ints per candidate.
# ---------------------------------------------------------------------------

def build_ivf_pq_index(
    corpus: DataFrame,
    table_name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 8,
    cells_iters: int = 2,
    m: int = 4,
    n_codes: int = 8,
    pq_iters: int = 2,
    dim: int = 64,
    num_buckets: int = 8,
) -> None:
    """Persist the two-level IVF-PQ index: ``<name>_codes``
    (neighbor_id, __cell, __code_*) bucketed by cell,
    ``<name>_centroids`` (coarse cells), ``<name>_codebooks`` (m
    per-subspace books), and the parameter-pinning meta row.  Searches
    equal ``ivf_pq_topk`` at the build parameters by construction."""
    if dim % m:
        raise ValueError(
            f"build_ivf_pq_index: dim={dim} not divisible by m={m}")
    width = dim // m
    spark = corpus.sparkSession
    # overlap the independent coarse-Lloyd and book-training job chains
    # (the ivf_pq_topk rationale; results bit-identical)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as ex:
        fut_cents = ex.submit(
            lambda: lloyd_centroids(corpus, vec_col=vec_col,
                                    id_col=id_col, n_lists=n_lists,
                                    n_iters=cells_iters))
        books = _train_pq_books(corpus, vec_col=vec_col, id_col=id_col,
                                m=m, width=width, n_codes=n_codes,
                                n_iters=pq_iters)
        cents = fut_cents.result()
    bc = _collect_centroids(cents)
    assigned = _assign_cells_pandas(
        _ivf_prep(corpus, id_col, vec_col, "neighbor_id"), bc,
        "__v_neighbor_id")
    codes = _pq_encode_pandas(assigned, books, "__v_neighbor_id") \
        .drop("__v_neighbor_id")
    ix.write(codes, ix.IVF_PQ, table_name, "codes", num_buckets=num_buckets)
    cent_rows = (
        cents.select(F.explode("__cents").alias("__c"))
        .select(F.col("__c.__cell").alias("__cell"),
                F.col("__c.__cv").alias("centroid"))
    )
    ix.write(cent_rows, ix.IVF_PQ, table_name, "centroids")
    ix.write(_codebook_rows_df(spark, books), ix.IVF_PQ, table_name,
             "codebooks")
    ix.finish_build(spark, ix.IVF_PQ, table_name, vec_col=vec_col,
                    id_col=id_col, n_lists=n_lists, cells_iters=cells_iters,
                    m=m, n_codes=n_codes, pq_iters=pq_iters, dim=dim,
                    num_buckets=num_buckets)


def _ivf_pq_cents(spark, table_name: str) -> DataFrame:
    return spark.table(f"{table_name}_centroids").agg(
        F.sort_array(F.collect_list(
            F.struct("__cell", F.col("centroid").alias("__cv"))))
        .alias("__cents"))


def search_ivf_pq_index(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ADC top-k over a persisted ``build_ivf_pq_index``: probes assign
    against the persisted coarse centroids (broadcast numpy argmin),
    the bucketed codes table is read per probed cell with no
    corpus-side exchange, LUTs come from the persisted codebooks, and
    tombstones anti-join — identical results to ``ivf_pq_topk`` at the
    build parameters (pytest-pinned)."""
    mt = ix.read_meta(spark, table_name)
    probes = _assign_cells_pandas(
        _ivf_prep(queries, mt.id_col, mt.vec_col, "query_id"),
        _collect_centroids(_ivf_pq_cents(spark, table_name)),
        "__v_query_id", n_probe=n_probe).select("query_id", "__cell")
    codes = ix.live_table(spark, ix.IVF_PQ, table_name, "codes", mt)
    books = _pq_books_from_table(spark, table_name)
    luts = _pq_query_luts(queries, books, vec_col=mt.vec_col,
                          id_col=mt.id_col,
                          width=int(mt.dim) // int(mt.m))
    pairs = codes.join(F.broadcast(probes.join(luts, "query_id")),
                       on="__cell").where(
        F.col("query_id") != F.col("neighbor_id"))
    mm = int(mt.m)
    dist = F.lit(0.0)
    for s in range(mm):
        dist = dist + F.element_at(F.col(f"__lut_{s}"),
                                   F.col(f"__code_{s}") + F.lit(1))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


def extend_ivf_pq_index(new_vecs: DataFrame, table_name: str) -> None:
    """Incrementally assign + encode new vectors against the FROZEN
    persisted coarse centroids and codebooks, appending into the
    bucket spec; already-indexed ids are skipped via the eagerly
    checkpointed anti-join (the extend_text_index guard); tombstoned
    ids stay deleted."""
    from ..plans.cache import track_broadcast

    spark = new_vecs.sparkSession
    mt = ix.read_meta(spark, table_name)
    indexed = spark.table(
        ix.phys(ix.IVF_PQ, table_name, "codes", mt)).select(
        F.col("neighbor_id").alias(mt.id_col))
    fresh_ids = (
        new_vecs.select(mt.id_col)
        .join(indexed, on=mt.id_col, how="left_anti")
        .localCheckpoint(eager=True))
    fresh = new_vecs.join(fresh_ids, on=mt.id_col, how="left_semi")
    assigned = _assign_cells_pandas(
        _ivf_prep(fresh, mt.id_col, mt.vec_col, "neighbor_id"),
        _collect_centroids(_ivf_pq_cents(spark, table_name)),
        "__v_neighbor_id")
    books = [track_broadcast(spark.sparkContext.broadcast(b))
             for b in _pq_books_from_table(spark, table_name)]
    codes = _pq_encode_pandas(assigned, books, "__v_neighbor_id") \
        .drop("__v_neighbor_id")
    ix.write(codes, ix.IVF_PQ, table_name, "codes", mt, mode="append")


def attach_ivf_pq_index(spark, table_name: str,
                        location_root: "str | None" = None) -> None:
    """Re-register a ``build_ivf_pq_index`` from an earlier session,
    bucket metadata included (``sources/index.py::attach``)."""
    ix.attach(spark, ix.IVF_PQ, table_name, location_root)


def compact_ivf_pq_index(spark, table_name: str, *,
                         keep_previous: bool = False) -> None:
    """Maintenance pass after ``extend_ivf_pq_index`` appends and
    ``delete_from_pq_index`` tombstones (``sources/index.py::compact``):
    the cell-bucketed codes are rewritten with tombstoned vectors folded
    out; centroids and codebooks are untouched (nothing retrains), so
    results are unchanged."""
    ix.compact(spark, ix.IVF_PQ, table_name, keep_previous=keep_previous)


# ---------------------------------------------------------------------------
# persisted PQ index — the encode-once shape of pq_topk: codebooks are
# trained once, the corpus persists as m ints per vector, and every
# query batch pays only the LUT build (driver-tiny) plus one scan of
# the codes table (m/8·dim of the raw float64 bytes).  Lifecycle: see
# sources/index.py; extends skip already-indexed ids.
# ---------------------------------------------------------------------------

def build_pq_index(
    corpus: DataFrame,
    table_name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    dim: int = 64,
) -> None:
    """Persist a PQ index: ``<name>_codes`` (neighbor_id,
    __code_0..__code_{m-1}), ``<name>_codebooks`` (sub, cell, centroid)
    written as a literal projection (no Python-local relation), and a
    ``<name>_meta`` row pinning every parameter.  Searches equal
    ``pq_topk`` with the same parameters by construction — same
    trainer, same encoder, same fold."""
    if dim % m:
        raise ValueError(f"build_pq_index: dim={dim} not divisible by m={m}")
    width = dim // m
    spark = corpus.sparkSession
    books = _train_pq_books(corpus, vec_col=vec_col, id_col=id_col,
                            m=m, width=width, n_codes=n_codes,
                            n_iters=n_iters)
    codes = _pq_encode_pandas(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("__v")),
        books, "__v").drop("__v")
    ix.write(codes, ix.PQ, table_name, "codes")
    ix.write(_codebook_rows_df(spark, books), ix.PQ, table_name,
             "codebooks")
    ix.finish_build(spark, ix.PQ, table_name, vec_col=vec_col,
                    id_col=id_col, m=m, n_codes=n_codes, n_iters=n_iters,
                    dim=dim)


def _pq_books_from_table(spark, table_name: str):
    """Collect the persisted codebooks back to the list-of-(cells, mat)
    numpy shape the encode/LUT helpers consume (m · n_codes rows —
    driver-tiny, the _collect_centroids trade)."""
    import numpy as np

    rows = spark.table(f"{table_name}_codebooks").collect()
    by_sub: dict = {}
    for r in rows:
        by_sub.setdefault(r.sub, []).append(r)
    books = []
    for s in sorted(by_sub):
        ordered = sorted(by_sub[s], key=lambda r: r.cell)
        cells = np.array([r.cell for r in ordered], dtype=np.int32)
        mat = np.array([list(r.centroid) for r in ordered],
                       dtype=np.float64)
        books.append((cells, mat))
    return books


def search_pq_index(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over a persisted ``build_pq_index``: LUTs from the
    persisted codebooks, one scan of the codes table, tombstones
    anti-joined — identical results to ``pq_topk`` at the build's
    parameters (pytest-pinned)."""
    mt = ix.read_meta(spark, table_name)
    codes = ix.live_table(spark, ix.PQ, table_name, "codes", mt)
    books = _pq_books_from_table(spark, table_name)
    qs = _pq_query_luts(queries, books, vec_col=mt.vec_col,
                        id_col=mt.id_col, width=int(mt.dim) // int(mt.m))
    return _pq_score(codes, qs, m=int(mt.m), k=k)


def extend_pq_index(new_vecs: DataFrame, table_name: str) -> None:
    """Incrementally encode new vectors against the FROZEN persisted
    codebooks and append their codes (the extend_ivf_index contract:
    the quantizer never retrains on extend).  Ids the index already
    carries are skipped via an anti-join pinned with an eager
    localCheckpoint BEFORE the append (the self-referential-lazy-read
    guard of ``extend_text_index``); tombstoned ids stay deleted."""
    from ..plans.cache import track_broadcast

    spark = new_vecs.sparkSession
    mt = ix.read_meta(spark, table_name)
    indexed = spark.table(ix.phys(ix.PQ, table_name, "codes", mt)).select(
        F.col("neighbor_id").alias(mt.id_col))
    fresh_ids = (
        new_vecs.select(mt.id_col)
        .join(indexed, on=mt.id_col, how="left_anti")
        .localCheckpoint(eager=True))
    fresh = new_vecs.join(fresh_ids, on=mt.id_col, how="left_semi")
    books = [track_broadcast(spark.sparkContext.broadcast(b))
             for b in _pq_books_from_table(spark, table_name)]
    codes = _pq_encode_pandas(
        fresh.select(F.col(mt.id_col).alias("neighbor_id"),
                     F.col(mt.vec_col).cast("array<double>").alias("__v")),
        books, "__v").drop("__v")
    ix.write(codes, ix.PQ, table_name, "codes", mt, mode="append")


def delete_from_pq_index(ids: DataFrame, table_name: str,
                         id_col: "str | None" = None) -> None:
    """Merge-on-read tombstones (``sources/index.py::delete``) for the PQ
    and IVF-PQ indexes: re-appending a tombstoned id does not resurrect
    it (its codes row survives, so the extend anti-join skips it and the
    tombstone keeps winning)."""
    ix.delete(ids, ix.PQ, table_name, id_col)


def attach_pq_index(spark, table_name: str,
                    location_root: "str | None" = None) -> None:
    """Re-register a ``build_pq_index`` written by an earlier session
    (``sources/index.py::attach``)."""
    ix.attach(spark, ix.PQ, table_name, location_root)


def compact_pq_index(spark, table_name: str, *,
                     keep_previous: bool = False) -> None:
    """Maintenance pass after ``extend_pq_index`` appends and tombstones
    (``sources/index.py::compact``): the codes are rewritten with
    tombstoned vectors folded out; codebooks are untouched (the
    quantizer never retrains), so results are unchanged."""
    ix.compact(spark, ix.PQ, table_name, keep_previous=keep_previous)


def pq_index_stats(spark, table_name: str) -> DataFrame:
    """Live content statistics (tombstones anti-joined exactly as
    searches do): one row (n_vectors, m, n_codes, dim,
    n_distinct_codewords) — the codeword-diversity number is the
    quantization-health signal (collapsed codebooks show here first)."""
    mt = ix.read_meta(spark, table_name)
    codes = ix.live_table(spark, ix.PQ, table_name, "codes", mt)
    m = int(mt.m)
    word = F.struct(*[F.col(f"__code_{s}") for s in range(m)])
    return codes.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.lit(m).cast("int").alias("m"),
        F.lit(int(mt.n_codes)).cast("int").alias("n_codes"),
        F.lit(int(mt.dim)).cast("int").alias("dim"),
        F.countDistinct(word).cast("long").alias("n_distinct_codewords"),
    )


def build_ivf_index(
    corpus: DataFrame,
    table_name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    n_iters: int = 2,
    num_buckets: int = 16,
    storage: str = "float32",
    dim: "int | None" = None,
) -> None:
    """Persist the IVF index for reuse — the real-deployment shape the
    search-time operators only simulate: train the deterministic Lloyd
    quantizer, assign every corpus vector to its cell (zero-shuffle argmin
    against the broadcast centroid array), and write the assigned corpus
    BUCKETED BY CELL plus a tiny companion centroid table.

    Amortization at 100 TB: the one corpus-wide shuffle (the bucketed
    write) happens once; every subsequent ``search_ivf_index`` probes
    cells with NO exchange on the corpus side — Spark reads only the
    matching buckets and shuffles just the (tiny) probe side.

    ``storage="sq8"`` (the FAISS IVF-SQ shape; requires ``dim``) stores
    8-bit scalar-quantized codes instead of the float vectors — 4× less
    index storage and scan I/O, the difference between fitting and not
    fitting a 100 TB embedding table's hot set.  Per-dimension bounds
    are learned at build time, persisted as ``<name>_bounds``, and
    FROZEN (extends quantize against them; searches dequantize on the
    fly with the exact oracle-replayable arithmetic of ``sq8_topk``).
    Lloyd training and cell assignment always run on the full-precision
    vectors."""
    if storage not in ("float32", "sq8"):
        raise ValueError(f"unknown storage {storage!r}")
    if storage == "sq8" and dim is None:
        raise ValueError("storage='sq8' requires dim")
    cents = lloyd_centroids(corpus, vec_col=vec_col, id_col=id_col,
                            n_lists=n_lists, n_iters=n_iters)
    assigned = (
        _assign_cells_pandas(
            _ivf_prep(corpus, id_col, vec_col, "neighbor_id"),
            _collect_centroids(cents), "__v_neighbor_id")
        .select("neighbor_id", F.col("__v_neighbor_id").alias("vec"),
                "__cell")
    )
    if storage == "sq8":
        bounds = sq8_bounds(corpus, vec_col=vec_col, dim=dim)
        assigned = (
            assigned.crossJoin(F.broadcast(bounds))
            .select("neighbor_id",
                    F.transform("vec", _sq8_quant).alias("codes"),
                    "__cell")
        )
        ix.write(bounds.select(F.col("__mn").alias("mn"),
                               F.col("__mx").alias("mx")),
                 ix.IVF, table_name, "bounds")
    ix.write(assigned, ix.IVF, table_name, "", num_buckets=num_buckets)
    cent_rows = (
        cents.select(F.explode("__cents").alias("__c"))
        .select(F.col("__c.__cell").alias("__cell"),
                F.col("__c.__cv").alias("centroid"))
    )
    ix.write(cent_rows, ix.IVF, table_name, "centroids")
    # storage: "float32" (raw) | "sq8" (quantized codes + frozen
    # <name>_bounds); readers fall back to float32 when the column is
    # absent (pre-sq8 indexes).  dim is the sq8 code width (NULL for
    # float32): rebuild checks compare it so changing the embedding
    # dimension can never silently reuse a stale index
    ix.finish_build(corpus.sparkSession, ix.IVF, table_name,
                    vec_col=vec_col, id_col=id_col, n_lists=n_lists,
                    n_iters=n_iters, num_buckets=num_buckets,
                    storage=storage, dim=dim)


def attach_ivf_index(spark, table_name: str,
                     location_root: str | None = None) -> None:
    """Re-register a ``build_ivf_index`` written by an earlier session:
    the cell-bucketed corpus (bucket spec from the meta row), centroids,
    sq8 bounds and tombstones (``sources/index.py::attach``), keeping
    ``search_ivf_index``'s exchange-free corpus side."""
    ix.attach(spark, ix.IVF, table_name, location_root)


def extend_ivf_index(
    corpus_delta: DataFrame,
    table_name: str,
) -> None:
    """Incrementally grow a persisted ``build_ivf_index`` with new
    vectors — the vector twin of ``extend_lsh_corpus_index``: the delta
    is assigned to cells with the index's OWN persisted centroids (the
    quantizer is frozen at build time — drift is impossible, and
    retraining on every ingest would move every existing assignment)
    and APPENDED to the cell-bucketed corpus table; Spark honors the
    existing bucket spec on append, so searches keep their
    exchange-free corpus side.

    This is the daily-ingest shape: Lloyd training and the corpus-wide
    bucketed shuffle happened once at build time; each increment
    assigns and writes only the delta.  Standard IVF caveat: a frozen
    quantizer slowly drifts from the data distribution as the corpus
    grows — rebuild when recall degrades (the meta row pins the
    training parameters for an identical rebuild).

    Caller contract: delta ids must be NEW — id dedup against the index
    is a full corpus scan, the cost this operator exists to avoid."""
    spark = corpus_delta.sparkSession
    m = ix.read_meta(spark, table_name)
    cents = spark.table(f"{table_name}_centroids").agg(
        F.sort_array(F.collect_list(
            F.struct("__cell", F.col("centroid").alias("__cv"))))
        .alias("__cents"))
    assigned = (
        _assign_cells_pandas(
            _ivf_prep(corpus_delta, m.id_col, m.vec_col, "neighbor_id"),
            _collect_centroids(cents), "__v_neighbor_id")
        .select("neighbor_id", F.col("__v_neighbor_id").alias("vec"),
                "__cell")
    )
    if ("storage" in m.__fields__ and m.storage == "sq8"):
        # quantize against the FROZEN build-time bounds (same contract
        # as the frozen quantizer: drift is impossible, and re-deriving
        # bounds per ingest would silently re-code the whole index);
        # out-of-range deltas clamp to the 0/255 code edges
        bounds = spark.table(f"{table_name}_bounds").select(
            F.col("mn").alias("__mn"), F.col("mx").alias("__mx"))
        assigned = (
            assigned.crossJoin(F.broadcast(bounds))
            .select("neighbor_id",
                    F.transform("vec", _sq8_quant).alias("codes"),
                    "__cell")
        )
    ix.write(assigned, ix.IVF, table_name, "", m, mode="append")


def compact_ivf_index(spark, table_name: str, *,
                      keep_previous: bool = False) -> None:
    """Maintenance pass after many ``extend_ivf_index`` appends and
    ``delete_from_ivf_index`` tombstones (``sources/index.py::compact``):
    the cell-bucketed corpus is rewritten with tombstoned vectors folded
    out, without retraining the quantizer.  Search results are
    unchanged; the bucket spec and centroids survive."""
    ix.compact(spark, ix.IVF, table_name, keep_previous=keep_previous)


def delete_from_ivf_index(ids: DataFrame, table_name: str,
                          id_col: "str | None" = None) -> None:
    """Tombstone deletion for a persisted IVF index
    (``sources/index.py::delete``): searches anti-join the deleted ids
    until the next ``compact_ivf_index`` or full ``build_ivf_index``."""
    ix.delete(ids, ix.IVF, table_name, id_col)


def ivf_index_stats(spark, table_name: str) -> DataFrame:
    """Per-cell posting statistics of a persisted IVF index (LIVE rows —
    merge-on-read tombstones anti-joined exactly as searches do):
    (cell, n_vectors, min_vec_id, max_vec_id).  Cell-size skew is the
    probe-cost signal (a fat cell makes every probe touching it scan
    more vectors); min/max member ids pin content, not just volume."""
    from pyspark.sql import functions as F

    postings = ix.live_table(spark, ix.IVF, table_name, "",
                             ix.read_meta(spark, table_name))
    return (
        postings.groupBy("__cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("neighbor_id").alias("min_vec_id"),
            F.max("neighbor_id").alias("max_vec_id"),
        )
        .select(F.col("__cell").cast("int").alias("cell"),
                "n_vectors", "min_vec_id", "max_vec_id")
    )


def search_ivf_index(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k search over a persisted ``build_ivf_index`` table: probe the
    ``n_probe`` nearest cells per query against the bucketed corpus.
    Returns the same (query_id, neighbor_id, cosine_sim, rank) shape —
    and, by construction, the same RESULTS — as ``ivf_lloyd_topk`` with
    matching parameters, without touching the raw corpus again
    (tombstoned neighbors excluded — see ``delete_from_ivf_index``)."""
    cents = spark.table(f"{table_name}_centroids").agg(
        F.sort_array(F.collect_list(
            F.struct("__cell", F.col("centroid").alias("__cv"))))
        .alias("__cents"))
    probes = _assign_cells_pandas(
        _ivf_prep(queries, id_col, vec_col, "query_id"),
        _collect_centroids(cents), "__v_query_id", n_probe=n_probe)
    m = ix.read_meta(spark, table_name)
    # the broadcast anti-join keeps the bucketed corpus side's
    # partitioning, so the __cell join stays exchange-free
    corpus_tbl = ix.live_table(spark, ix.IVF, table_name, "", m)
    storage = (m.storage if "storage" in m.__fields__ else "float32")
    joined = (
        probes.join(corpus_tbl, on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    if storage == "sq8":
        # dequantize AFTER the bucket join (the 1-row bounds broadcast
        # composes as a nested-loop join over the probe output, so the
        # bucketed corpus side stays exchange-free) — only probed rows
        # pay reconstruction
        bounds = spark.table(f"{table_name}_bounds").select(
            F.col("mn").alias("__mn"), F.col("mx").alias("__mx"))
        joined = (
            joined.crossJoin(F.broadcast(bounds))
            .withColumn("vec", F.transform("codes", _sq8_dequant))
        )
    scored = joined.withColumn(
        "cosine_sim", F.round(cosine("__v_query_id", "vec"), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 123,
    fit_sample_max: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: MLlib KMeans coarse quantizer partitions the
    corpus into ``n_lists`` cells; each query scans only its ``n_probe``
    nearest cells, exact cosine rerank inside.

    The scale shape: centroids are tiny and broadcast; the corpus is
    shuffled ONCE by cell assignment (and would be written bucketed-by-cell
    for reuse in a real deployment); per-query work drops from |corpus| to
    ~|corpus|·n_probe/n_lists.  The quantizer is fit on a bounded sample
    (``fit_sample_max`` rows) — the standard IVF recipe: cell quality needs
    only a representative sample, never the full corpus, so the multi-pass
    KMeans cost stays O(sample) while assignment remains one full-corpus
    pass.  Recall < 1 near cell boundaries — tested against brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    prep = lambda df, out_id: df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias(f"__v_{out_id}"))
    c = prep(corpus, "neighbor_id")
    q = prep(queries, "query_id")

    km = KMeans(k=n_lists, seed=seed, featuresCol="__feat",
                predictionCol="__cell", maxIter=8, initMode="random")
    # coarse cells don't need convergence — 8 Lloyd iterations from random
    # init is ample for a bucketing quantizer (measured: same training cost
    # as k-means|| to 4 significant digits, minus its multi-pass init jobs).
    # The fit is bounded by a TakeOrdered over xxhash64(id): deterministic
    # across partition layouts/parallelism (a bare limit() is a physical
    # prefix — layout-dependent AND badly biased on a sorted/clustered
    # corpus) and unbiased (hash order is a layout-independent pseudo-
    # random permutation).  Still no plan-time count() pass: TakeOrdered
    # keeps a k-heap per partition, O(n log k) with no full sort/shuffle.
    fit_rows = c.orderBy(F.xxhash64("neighbor_id").asc(),
                         F.col("neighbor_id").asc()).limit(fit_sample_max)
    model = km.fit(
        fit_rows.withColumn("__feat", array_to_vector("__v_neighbor_id")))
    c_cells = model.transform(
        c.withColumn("__feat", array_to_vector("__v_neighbor_id"))
    ).select("neighbor_id", "__v_neighbor_id", "__cell")

    # centroid table: tiny → crossJoin+rank per query stays trivial
    centroids = [(i, [float(x) for x in ctr])
                 for i, ctr in enumerate(model.clusterCenters())]
    cent_df = queries.sparkSession.createDataFrame(
        centroids, ["__cell", "__centroid"])
    q_cells = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("__dist", l2_distance("__v_query_id", "__centroid"))
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("__cell").asc())
    probes = (
        q_cells.withColumn("__r", F.row_number().over(w_cell))
        .where(F.col("__r") <= n_probe)
        .select("query_id", "__v_query_id", "__cell")
    )

    scored = (
        probes.join(c_cells, on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim",
                    F.round(cosine("__v_query_id", "__v_neighbor_id"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """IVF RANGE query (the FAISS ``range_search`` shape): all probed
    neighbors with ``cosine_sim >= threshold`` per query —
    ``(query_id, neighbor_id, cosine_sim)``, unranked.

    Same deterministic Lloyd quantizer + cell probe as
    :func:`ivf_lloyd_topk`, but the terminal operator is a FILTER, not
    a rank window: a radius query needs no per-query sort at all, so
    the whole plan is scan → broadcast-probe join → filter — the
    output-bound shape (a top-k at 100 TB pays a per-query TakeOrdered;
    a radius query pays only its own matches).  The 6dp round happens
    before the compare (the pair-similarity contract), and recall
    vs an exact scan is bounded by the probed cells exactly like the
    top-k form."""
    cents = lloyd_centroids(corpus, vec_col=vec_col, id_col=id_col,
                            n_lists=n_lists, n_iters=n_iters)
    bc = _collect_centroids(cents)
    c_cells = _assign_cells_pandas(
        _ivf_prep(corpus, id_col, vec_col, "neighbor_id"), bc,
        "__v_neighbor_id")
    probes = _assign_cells_pandas(
        _ivf_prep(queries, id_col, vec_col, "query_id"), bc,
        "__v_query_id", n_probe=n_probe)
    return (
        probes.join(c_cells, on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim",
                    F.round(cosine("__v_query_id", "__v_neighbor_id"), 6))
        .where(F.col("cosine_sim") >= F.lit(float(threshold)))
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def sq8_reconstruction_report(
    corpus: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension quantization-error report of the SQ8 codec —
    ``(dim_idx, n_vectors, mean_abs_err, max_abs_err)`` — the
    measurement that justifies (or vetoes) shipping int8 codes for a
    given embedding family.

    Exactness contract: each element's reconstruction error
    ``|x − x̂|`` (the audited ``_sq8_quant``/``_sq8_dequant`` literal
    chain) is 6dp-rounded then DECIMAL(28,6)-summed — order-independent
    across partitions — and the mean is ONE double division by the
    exact count; ``max`` is order-independent as-is.

    Scale shape: ONE corpus pass — the ``dim`` error expressions are a
    single projected array per row (each quant chain evaluated ONCE),
    posexploded to (dim_idx, err) value rows and folded by a plain
    map-side-combining aggregate (64 groups, 3 simple aggregate
    expressions — clean whole-stage codegen; the earlier 2·dim
    deep-tree aggregate form measured 4× slower because the duplicated
    quant chains blew out codegen)."""
    c = corpus.select(F.col(vec_col).cast("array<double>").alias("__v"))
    bounds = sq8_bounds(corpus, vec_col=vec_col, dim=dim)
    withb = c.crossJoin(F.broadcast(bounds))

    def err_sql(i):
        # get(), not __v[i]: ANSI raises on a short vector's missing
        # dims; NULL matches the oracle's cv[i] and the non-null count.
        # SQL text, not Column ops: the 64-dim Column form cost 25k
        # py4j round-trips (3.7 s of driver wall); the text parses in
        # one call to a canonically identical plan (pinned by
        # test_sq8_sql_text_plans_identical)
        x = f"get(__v, {i})"
        return (f"round(abs({x} - "
                f"{_sq8_dequant_sql(_sq8_quant_sql(x, i), i)}), 6)")

    errs = withb.select(
        F.posexplode(F.expr(
            "array(" + ", ".join(err_sql(i) for i in range(dim)) + ")"))
        .alias("dim_idx", "__e"))
    # n_vectors counts NON-NULL error terms (count("__e")) so ragged /
    # NULL vectors — whose out-of-bounds elements yield NULL errors on
    # both engines — deflate neither the count nor the mean; the ANSI
    # divide guard covers the all-NULL group (DuckDB's NULL via CASE)
    return (
        errs.groupBy("dim_idx")
        .agg(F.count(F.col("__e")).cast("long").alias("n_vectors"),
             F.sum(F.col("__e").cast("decimal(28,6)")).alias("__s"),
             F.max("__e").alias("max_abs_err"))
        .select(
            F.col("dim_idx").cast("int").alias("dim_idx"),
            "n_vectors",
            F.when(
                F.col("n_vectors") > 0,
                F.round(F.col("__s").cast("double")
                        / F.col("n_vectors").cast("double"), 6))
            .alias("mean_abs_err"),
            "max_abs_err")
    )
