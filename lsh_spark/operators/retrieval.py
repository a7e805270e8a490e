"""BM25 full-text retrieval — the lexical ranking stage of a RAG /
eval-retrieval pipeline (Robertson-Sparck-Jones BM25 with the Lucene
``ln(1 + (N-df+0.5)/(df+0.5))`` idf, so scores are always positive).

Engine-parity rules (the repo contract): tf/df/dl/N are exact integer
aggregates; every double expression is written in one literal op order
mirrored by the DuckDB oracle; the per-document score folds
left-to-right over the document's matched query terms SORTED by term
(``F.aggregate`` / ``list_reduce`` — the ``unigram_logprob_scores``
recipe), and the terminal 6-dp round happens BEFORE ranking with ties
broken on ids.

100 TB design: one explode feeds the postings aggregate (the shuffle
carries (doc_id, term) pairs, never text); postings are pruned to the
query vocabulary FIRST via a broadcast of the by-construction-tiny
query-term set, so df, the score join and the fold all run over the
matched subset only; corpus stats (N, total length) are one
map-side-combined aggregate broadcast as a single row.  A standing
deployment would persist the postings + doc-length tables once
(bucketed by term / id) and reuse them across query batches — the
on-the-fly form here keeps the gate oracle exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.cache import track
from ..sources import index as ix
from .training_ops import _words


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k BM25 documents per query: (query_id, doc_id, score, rank).

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·((1-b) + b·dl/avgdl))``
    over the query's DISTINCT terms present in the doc, folded in term
    order; ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``.
    ``exclude_self`` drops doc_id == query_id BEFORE ranking (for
    corpus-drawn queries — the ``cosine_topk`` self-match contract)."""
    from pyspark import StorageLevel

    toks = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(_words(F.col(text_col))).alias("__term"))
        .groupBy("doc_id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("__dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("__n_docs"),
                   F.sum("__dl").alias("__total"))
    qt = _query_terms(queries, query_id_col, query_text_col)
    # postings pruned to the query vocabulary; persisted because two
    # branches (the df aggregate and the scoring join) consume it and
    # the explode+agg lineage is the expensive part
    post = track(
        toks.join(F.broadcast(qt.select("__term").distinct()), "__term")
        .persist(StorageLevel.MEMORY_AND_DISK))
    # only MATCHED documents need their length in the scoring join: a
    # left-semi against the (persisted) matched postings' doc ids drops
    # unmatched lengths before the wide per-(query, doc) join — at
    # 10^11 docs the full (doc_id, dl) table is a ~TB-scale shuffle of
    # rows the query never touches.  Corpus stats (N, total) stay
    # derived from the UNPRUNED dl.  The persisted-index form doesn't
    # need this (doclen is bucketed by doc_id — exchange-free).
    dl_matched = dl.join(post.select("doc_id").distinct(),
                         "doc_id", "left_semi")
    return _bm25_score(post, qt, dl_matched, stats, k=k, k1=k1, b=b,
                       exclude_self=exclude_self)


def _query_terms(queries: DataFrame, query_id_col: str,
                 query_text_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_words(F.col(query_text_col))))
        .alias("__term"))


def _bm25_raw(post: DataFrame, qt: DataFrame, dl: DataFrame,
              stats: DataFrame, *, k1: float, b: float) -> DataFrame:
    """Shared scoring core for the on-the-fly and persisted-index forms:
    ``post`` is (doc_id, __term, __tf) already restricted to the query
    vocabulary, ``dl`` is (doc_id, __dl), ``stats`` a 1-row
    (__n_docs, __total).  Returns the UNROUNDED per-(query, doc) fold
    ``(query_id, doc_id, __bm)`` — every caller's oracle replays the
    same literal op order; rounding/ranking live in the callers
    (:func:`_bm25_score`, :func:`proximity_rank`'s fusion)."""
    dfreq = post.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    avgdl = F.col("__total").cast("double") / F.col("__n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs").cast("double") - F.col("__df").cast("double")
           + F.lit(0.5))
        / (F.col("__df").cast("double") + F.lit(0.5)))
    tfn = (
        F.col("__tf").cast("double") * F.lit(k1 + 1.0)
    ) / (
        F.col("__tf").cast("double")
        + F.lit(k1) * (F.lit(1.0 - b)
                       + F.lit(b) * (F.col("__dl").cast("double") / avgdl))
    )
    terms = (
        post.join(F.broadcast(qt), "__term")
        .join(F.broadcast(dfreq), "__term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id",
                F.struct(F.col("__term"), (idf * tfn).alias("__s"))
                .alias("__ts"))
    )
    raw = (
        terms.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list("__ts")).alias("__arr"))
        .select(
            "query_id", "doc_id",
            F.aggregate(F.col("__arr"), F.lit(0.0),
                        lambda a, x: a + x["__s"]).alias("__bm"))
    )
    return raw


def _bm25_score(post: DataFrame, qt: DataFrame, dl: DataFrame,
                stats: DataFrame, *, k: int, k1: float, b: float,
                exclude_self: bool = False) -> DataFrame:
    """Rounded-and-ranked tail over :func:`_bm25_raw` — unchanged
    semantics (round happens in the same composed projection Catalyst
    collapses, so the three existing callers' plans and oracles are
    untouched); split so :func:`proximity_rank` can fuse the UNROUNDED
    fold with its proximity term before the single terminal round."""
    scored = _bm25_raw(post, qt, dl, stats, k1=k1, b=b).select(
        "query_id", "doc_id", F.round(F.col("__bm"), 6).alias("score"))
    if exclude_self:
        scored = scored.where(F.col("doc_id") != F.col("query_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_oracle_sql(queries_values: str = "", *, k: int = 10,
                    k1: float = 1.2, b: float = 0.75,
                    source: str = "documents",
                    queries_select: "str | None" = None,
                    exclude_self: bool = False) -> str:
    """DuckDB replay of ``bm25_topk`` over ``source``;
    ``queries_values`` is a SQL VALUES list ``(id, 'text'), ...``, or
    pass ``queries_select`` — a SELECT yielding
    (query_id, query_text) — for table-derived query sets."""
    q_cte = (queries_select if queries_select is not None
             else f"SELECT * FROM (VALUES {queries_values})"
                  f" q(query_id, query_text)")
    return rf"""
WITH q AS ({q_cte}),
qt AS (
  SELECT query_id,
         unnest(list_distinct(list_filter(
             string_split_regex(query_text, '[ \t\n\x0b\f\r]+'),
             t -> t != ''))) AS term
  FROM q
),
toks AS (
  SELECT doc_id, t AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
                      t -> t != '')) AS t
        FROM {source})
  GROUP BY doc_id, t
),
dl AS (
  SELECT doc_id,
         len(coalesce(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
                 t -> t != ''), []))::BIGINT AS dl
  FROM {source}
),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total
          FROM dl),
post AS (
  SELECT t.doc_id, t.term, t.tf FROM toks t
  JOIN (SELECT DISTINCT term FROM qt) v USING (term)
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term),
terms AS (
  SELECT qt.query_id, p.doc_id, p.term,
         ln(1.0 + (s.n_docs::DOUBLE - f.df::DOUBLE + 0.5)
                  / (f.df::DOUBLE + 0.5))
         * ((p.tf::DOUBLE * {k1 + 1.0})
            / (p.tf::DOUBLE
               + {k1} * ({1.0 - b}
                         + {b} * (d.dl::DOUBLE
                                  / (s.total::DOUBLE
                                     / s.n_docs::DOUBLE))))) AS contrib
  FROM post p
  JOIN qt ON qt.term = p.term
  JOIN dfreq f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0::DOUBLE,
                                        list(contrib ORDER BY term)),
                           (a, x) -> a + x), 6) AS score
  FROM terms GROUP BY query_id, doc_id
  {"HAVING doc_id != query_id" if exclude_self else ""}
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {k}
"""


def phrase_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Exact multi-token PHRASE match via positional postings — the
    retrieval primitive BM25's bag-of-words scoring cannot express
    (contiguous token sequences: named entities, boilerplate strings,
    quoted queries).  Returns one row per (query, matching doc):
    ``(query_id, doc_id, n_occurrences, first_pos)`` with 0-based token
    positions.

    The distributed phrase-match recipe: every posting that matches ANY
    phrase term at offset ``i`` votes for anchor ``pos − i``; an anchor
    collecting votes from ALL ``len(phrase)`` offsets is a full
    occurrence.  Repeated phrase terms work because each (pos, offset)
    pair contributes exactly one vote to exactly one anchor.

    100 TB shape: the phrase-term table (|Q| × phrase_len rows)
    broadcasts; the corpus-side explode feeds one hash aggregate keyed
    (query_id, doc_id, anchor) — the shuffle carries bare ids and two
    ints, never text, with map-side partial counts; negative anchors
    are provably sub-full (offset > pos) and pruned in-plan."""
    pos_post = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_words(F.col(text_col))).alias("__pos", "__term"))
    ph, plen = _phrase_frames(queries, query_id_col, phrase_col)
    return _phrase_match(pos_post, ph, plen)


def _phrase_frames(queries: DataFrame, query_id_col: str,
                   phrase_col: str):
    """(query_id, offset, term) and (query_id, phrase_len) frames —
    shared by the on-the-fly and indexed phrase forms."""
    toks = F.col("__toks")
    qtok = queries.select(
        F.col(query_id_col).alias("query_id"),
        _words(F.col(phrase_col)).alias("__toks"))
    ph = qtok.select(
        "query_id", F.posexplode(toks).alias("__off", "__term"))
    plen = qtok.select("query_id", F.size(toks).alias("__plen"))
    return ph, plen


def _phrase_match(pos_post: DataFrame, ph: DataFrame,
                  plen: DataFrame) -> DataFrame:
    """Anchor voting over a positional-postings frame (doc_id, __pos,
    __term) — the shared core of both phrase forms."""
    anchors = (
        pos_post.join(F.broadcast(ph), "__term")
        .select("query_id", "doc_id",
                (F.col("__pos") - F.col("__off")).alias("__anchor"))
        .where(F.col("__anchor") >= 0)
        .groupBy("query_id", "doc_id", "__anchor")
        .agg(F.count(F.lit(1)).alias("__nmatch"))
    )
    return (
        anchors.join(F.broadcast(plen), "query_id")
        .where(F.col("__nmatch") == F.col("__plen"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"),
             F.min("__anchor").cast("long").alias("first_pos"))
    )


def phrase_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Exact phrase match against a POSITIONAL ``build_text_index``
    (``positional=True``): identical semantics (and oracle) to
    ``phrase_search`` — the persisted (doc_id, __term, __pos) table
    replaces the per-batch corpus tokenize/posexplode, tombstones
    anti-join, and only postings matching the phrase vocabulary ever
    leave the scan (the broadcast term join prunes first)."""
    m = ix.read_meta(spark, table_name)
    if not _is_positional(m):
        raise ValueError(
            f"text index {table_name!r} was built without "
            "positional=True — phrase probes need the positions table; "
            "rebuild with build_text_index(..., positional=True)")
    ph, plen = _phrase_frames(queries, query_id_col, phrase_col)
    pos_post = ix.live_table(spark, ix.TEXT, table_name, "positions", m)
    return _phrase_match(pos_post, ph, plen)


def phrase_search_oracle_sql(queries_values: str, *,
                             source: str = "documents") -> str:
    """DuckDB replay of ``phrase_search``: 1-based generate_subscripts
    shifted to the Spark side's 0-based positions, same anchor-vote
    count."""
    ws = r"'[ \t\n\x0b\f\r]+'"
    return rf"""
WITH q AS (SELECT * FROM (VALUES {queries_values}) q(query_id, phrase)),
qtok AS (
  SELECT query_id,
         list_filter(string_split_regex(phrase, {ws}), t -> t != '')
           AS toks
  FROM q
),
ph AS (
  SELECT query_id, generate_subscripts(toks, 1) - 1 AS off,
         unnest(toks) AS term
  FROM qtok
),
plen AS (SELECT query_id, len(toks) AS plen FROM qtok),
post AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, {ws}), t -> t != '')
                 AS toks
        FROM {source})
),
anchors AS (
  SELECT f.query_id, p.doc_id, p.pos - f.off AS anchor,
         count(*) AS nm
  FROM post p JOIN ph f USING (term)
  WHERE p.pos - f.off >= 0
  GROUP BY 1, 2, 3
)
SELECT a.query_id, a.doc_id,
       count(*)::BIGINT AS n_occurrences,
       min(a.anchor)::BIGINT AS first_pos
FROM anchors a JOIN plen l USING (query_id)
WHERE a.nm = l.plen
GROUP BY 1, 2
"""


def proximity_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_a_col: str = "term_a",
    term_b_col: str = "term_b",
) -> DataFrame:
    """Two-term PROXIMITY match: a document qualifies when some
    occurrence of ``term_a`` and some occurrence of ``term_b`` sit
    within ``window`` token positions (``|pa − pb| ≤ window``) — the
    NEAR operator phrase search cannot express (order-free, gapped).
    Returns ``(query_id, doc_id, n_pairs, min_gap)``: the count of
    qualifying position pairs and the closest gap, exact integers.

    100 TB shape: the query-term table broadcasts and prunes the
    positional postings FIRST (only documents containing a matched term
    survive the scan); the position pair join shuffles bare
    (query_id, doc_id, pos) int rows keyed by (query_id, doc_id), so
    pair volume is tf_a × tf_b per matching document — bounded by
    per-document term frequency, never corpus size.  Identical-term
    queries (a == b) pair every position with itself (gap 0) — both
    engines replay the same convention."""
    pos_post = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_words(F.col(text_col))).alias("__pos", "__term"))
    return _proximity_match(pos_post, queries, window,
                            query_id_col, term_a_col, term_b_col)


def _pos_bucket(pos, window: int):
    """Banded position bucket of width ``window + 1``: any two
    positions with ``|pa − pb| ≤ window`` land in the same or adjacent
    buckets (the gap is strictly smaller than the bucket width), so an
    equi-join on (bucket, probe ∈ {bucket−1, bucket, bucket+1}) is a
    PROVABLY output-neutral prefilter for the exact gap test — and
    because the three probe keys of one position are distinct, every
    qualifying position pair matches on exactly ONE bucket key (no
    double counting).  This bounds the per-document position product
    by near-window term density instead of tf_a × tf_b (the r13
    verdict's one scale flag: a hot query term at tf ~10³ per long
    document went quadratic).  The oracle replays the UNBANDED product
    — the edit-distance length-gap precedent for output-neutral
    prefilters that stay out of the SQL."""
    return pos.cast("long") - (pos.cast("long") % F.lit(int(window) + 1))


def _probe_buckets(pos, window: int):
    """The {same, previous, next} bucket keys a position must probe to
    meet every within-window partner (see :func:`_pos_bucket`)."""
    w1 = F.lit(int(window) + 1)
    bk = _pos_bucket(pos, window)
    return F.array(bk - w1, bk, bk + w1)


def _proximity_match(pos_post: DataFrame, queries: DataFrame,
                     window: int, query_id_col: str,
                     term_a_col: str, term_b_col: str) -> DataFrame:
    """Position-pair stage shared by the on-the-fly and indexed
    proximity forms; ``pos_post`` is (doc_id, __pos, __term).  The
    pair join carries the banded ``__bk`` bucket key (``_pos_bucket``)
    so the product is near-window-bounded, not tf_a × tf_b."""
    qa = queries.select(F.col(query_id_col).alias("query_id"),
                        F.col(term_a_col).alias("__term"))
    qb = queries.select(F.col(query_id_col).alias("query_id"),
                        F.col(term_b_col).alias("__term"))
    pa = (pos_post.join(F.broadcast(qa), "__term")
          .select("query_id", "doc_id", F.col("__pos").alias("__pa"),
                  _pos_bucket(F.col("__pos"), window).alias("__bk")))
    pb = (pos_post.join(F.broadcast(qb), "__term")
          .select("query_id", "doc_id", F.col("__pos").alias("__pb"),
                  F.explode(_probe_buckets(F.col("__pos"), window))
                  .alias("__bk")))
    pairs = (
        pa.join(pb, ["query_id", "doc_id", "__bk"])
        .select("query_id", "doc_id",
                F.abs(F.col("__pa") - F.col("__pb")).alias("__gap"))
        .where(F.col("__gap") <= F.lit(int(window)))
    )
    return pairs.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("__gap").cast("long").alias("min_gap"))


def proximity_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    window: int = 8,
    query_id_col: str = "query_id",
    term_a_col: str = "term_a",
    term_b_col: str = "term_b",
) -> DataFrame:
    """Proximity match against a POSITIONAL ``build_text_index``:
    identical semantics (and oracle) to :func:`proximity_search` — the
    persisted (doc_id, __term, __pos) table replaces the per-batch
    tokenize/posexplode, tombstones anti-join, and the broadcast term
    join prunes postings at the scan."""
    m = ix.read_meta(spark, table_name)
    if not _is_positional(m):
        raise ValueError(
            f"text index {table_name!r} was built without "
            "positional=True — proximity probes need the positions "
            "table; rebuild with build_text_index(..., positional=True)")
    pos_post = ix.live_table(spark, ix.TEXT, table_name, "positions", m)
    return _proximity_match(pos_post, queries, window,
                            query_id_col, term_a_col, term_b_col)


def proximity_search_oracle_sql(queries_values: str, *, window: int,
                                source: str = "documents") -> str:
    """DuckDB replay of ``proximity_search`` — same ws-class
    tokenization, 0-based positions, integer gap arithmetic."""
    ws = r"'[ \t\n\x0b\f\r]+'"
    return rf"""
WITH q AS (SELECT * FROM (VALUES {queries_values})
           q(query_id, term_a, term_b)),
post AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, {ws}), t -> t != '')
                 AS toks
        FROM {source})
),
pa AS (
  SELECT q.query_id, p.doc_id, p.pos AS ppa
  FROM post p JOIN q ON p.term = q.term_a
),
pb AS (
  SELECT q.query_id, p.doc_id, p.pos AS ppb
  FROM post p JOIN q ON p.term = q.term_b
),
pairs AS (
  SELECT query_id, doc_id, abs(ppa - ppb) AS gap
  FROM pa JOIN pb USING (query_id, doc_id)
  WHERE abs(ppa - ppb) <= {int(window)}
)
SELECT query_id, doc_id,
       count(*)::BIGINT AS n_pairs,
       min(gap)::BIGINT AS min_gap
FROM pairs GROUP BY 1, 2
"""


def _proximity_rank_tail(pos_post: DataFrame, post: DataFrame,
                         qt: DataFrame, dl: DataFrame, stats: DataFrame,
                         *, window: int, k: int, k1: float, b: float,
                         prox_weight: float) -> DataFrame:
    """Fusion tail shared by the on-the-fly and indexed proximity-rank
    forms: BM25 fold (``_bm25_raw``) + proximity term, ONE terminal
    6-dp round, row_number ranking with id ties.

    Proximity term, k-term generalization of the NEAR operator: for
    every unordered pair of DISTINCT query terms (t1 < t2 by string
    order) matched in the document with some occurrence pair within
    ``window`` (``|p1 − p2| ≤ window``), the pair contributes
    ``1.0 / (min_gap + 1.0)``; contributions fold left-to-right sorted
    by (t1, t2) — the BM25 fold idiom, so the sum order is engine-
    independent.  Identical-term self-pairs never contribute (strict
    ``t1 < t2``).  Fusion: ``score = round(bm25 + w · prox, 6)`` in one
    literal op order; docs matching ≥1 term but with no qualifying
    pair score ``prox = 0.0`` (COALESCE after the left join)."""
    raw = _bm25_raw(post, qt, dl, stats, k1=k1, b=b)
    mp = (pos_post.join(F.broadcast(qt), "__term")
          .select("query_id", "doc_id", "__term", "__pos"))
    # Banded position buckets (_pos_bucket): the pair join carries the
    # __bk key so the per-document product is near-window-bounded, not
    # tf_a × tf_b; every |p1 − p2| ≤ window pair matches on exactly one
    # probe key, so min(__gap) per (t1, t2) is over the identical set.
    pa = mp.select("query_id", "doc_id",
                   F.col("__term").alias("__t1"),
                   F.col("__pos").alias("__p1"),
                   _pos_bucket(F.col("__pos"), window).alias("__bk"))
    pb = mp.select("query_id", "doc_id",
                   F.col("__term").alias("__t2"),
                   F.col("__pos").alias("__p2"),
                   F.explode(_probe_buckets(F.col("__pos"), window))
                   .alias("__bk"))
    gaps = (
        pa.join(pb, ["query_id", "doc_id", "__bk"])
        .where(F.col("__t1") < F.col("__t2"))
        .select("query_id", "doc_id", "__t1", "__t2",
                F.abs(F.col("__p1") - F.col("__p2")).alias("__gap"))
        .where(F.col("__gap") <= F.lit(int(window)))
    )
    prox = (
        gaps.groupBy("query_id", "doc_id", "__t1", "__t2")
        .agg(F.min("__gap").alias("__mg"))
        .select("query_id", "doc_id",
                F.struct(
                    "__t1", "__t2",
                    (F.lit(1.0)
                     / (F.col("__mg").cast("double") + F.lit(1.0)))
                    .alias("__c")).alias("__ps"))
        .groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list("__ps")).alias("__parr"))
        .select("query_id", "doc_id",
                F.aggregate(F.col("__parr"), F.lit(0.0),
                            lambda a, x: a + x["__c"]).alias("__px"))
    )
    scored = (
        raw.join(prox, ["query_id", "doc_id"], "left")
        .select("query_id", "doc_id",
                F.round(
                    F.col("__bm")
                    + F.lit(float(prox_weight))
                    * F.coalesce(F.col("__px"), F.lit(0.0)), 6)
                .alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def proximity_rank(
    docs: DataFrame,
    queries: DataFrame,
    *,
    window: int = 8,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Proximity-weighted BM25 ranking over k-term queries (3+ terms) —
    the retrieval-stack fusion plain BM25's bag-of-words scoring and
    the two-term NEAR operator each miss: documents where the query's
    terms cluster tightly outrank bag-of-words ties.  Returns
    ``(query_id, doc_id, score, rank)``; see
    :func:`_proximity_rank_tail` for the exactness contract.

    100 TB shape: BOTH stages prune against the broadcast query-term
    set first — tf postings for the BM25 fold, positional postings for
    the pair stage — so the position self-join shuffles bare
    (query_id, doc_id, term, pos) rows bounded by per-document
    query-term frequency, never corpus size, and the fusion join is
    per-(query, matched-doc)."""
    toks = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(_words(F.col(text_col))).alias("__term"))
        .groupBy("doc_id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("__dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("__n_docs"),
                   F.sum("__dl").alias("__total"))
    qt = _query_terms(queries, query_id_col, query_text_col)
    # three consumers (df aggregate, scoring join, matched-doc semi) —
    # persist so the explode+agg lineage runs once (the bm25_topk rule)
    from pyspark import StorageLevel

    post = track(
        toks.join(F.broadcast(qt.select("__term").distinct()), "__term")
        .persist(StorageLevel.MEMORY_AND_DISK))
    dl_matched = dl.join(post.select("doc_id").distinct(),
                         "doc_id", "left_semi")
    pos_post = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_words(F.col(text_col))).alias("__pos", "__term"))
    return _proximity_rank_tail(pos_post, post, qt, dl_matched, stats,
                                window=window, k=k, k1=k1, b=b,
                                prox_weight=prox_weight)


def proximity_rank_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    window: int = 8,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Proximity-weighted BM25 against a POSITIONAL
    ``build_text_index`` — identical semantics (and oracle) to
    :func:`proximity_rank`: the persisted postings feed the BM25 fold,
    the positions table feeds the pair stage, tombstones anti-join on
    both sides, and the broadcast query-term join prunes each at the
    scan."""
    m = ix.read_meta(spark, table_name)
    if not _is_positional(m):
        raise ValueError(
            f"text index {table_name!r} was built without "
            "positional=True — proximity-rank probes need the "
            "positions table; rebuild with "
            "build_text_index(..., positional=True)")
    qt = _query_terms(queries, query_id_col, query_text_col)
    post = ix.live(
        spark, ix.TEXT, table_name,
        spark.table(ix.phys(ix.TEXT, table_name, "postings", m))
        .join(F.broadcast(qt.select("__term").distinct()), "__term"),
        "doc_id")
    dl = ix.live_table(spark, ix.TEXT, table_name, "doclen", m)
    stats = _live_stats(spark, table_name, m)
    pos_post = ix.live_table(spark, ix.TEXT, table_name, "positions", m)
    return _proximity_rank_tail(pos_post, post, qt, dl, stats,
                                window=window, k=k, k1=k1, b=b,
                                prox_weight=prox_weight)


def proximity_rank_oracle_sql(queries_values: str, *, window: int,
                              k: int = 10, k1: float = 1.2,
                              b: float = 0.75, prox_weight: float = 1.0,
                              source: str = "documents") -> str:
    """DuckDB replay of :func:`proximity_rank` — the BM25 oracle chain
    (UNROUNDED fold) + the pair-stage min-gap term folded in (t1, t2)
    order, fused in the identical literal op order with one terminal
    6-dp round.  Corpus-derived like the proximity/boolean oracles, so
    it independently pins the positional index content the indexed
    form reads."""
    ws = r"'[ \t\n\x0b\f\r]+'"
    return rf"""
WITH q AS (SELECT * FROM (VALUES {queries_values})
           q(query_id, query_text)),
qt AS (
  SELECT query_id,
         unnest(list_distinct(list_filter(
             string_split_regex(query_text, {ws}),
             t -> t != ''))) AS term
  FROM q
),
tokl AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, {ws}), t -> t != '')
           AS toks
  FROM {source}
),
toks AS (
  SELECT doc_id, t AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM tokl)
  GROUP BY doc_id, t
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tokl),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total
          FROM dl),
post AS (
  SELECT t.doc_id, t.term, t.tf FROM toks t
  JOIN (SELECT DISTINCT term FROM qt) v USING (term)
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term),
terms AS (
  SELECT qt.query_id, p.doc_id, p.term,
         ln(1.0 + (s.n_docs::DOUBLE - f.df::DOUBLE + 0.5)
                  / (f.df::DOUBLE + 0.5))
         * ((p.tf::DOUBLE * {k1 + 1.0})
            / (p.tf::DOUBLE
               + {k1} * ({1.0 - b}
                         + {b} * (d.dl::DOUBLE
                                  / (s.total::DOUBLE
                                     / s.n_docs::DOUBLE))))) AS contrib
  FROM post p
  JOIN qt ON qt.term = p.term
  JOIN dfreq f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
),
bm AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0::DOUBLE,
                                  list(contrib ORDER BY term)),
                     (a, x) -> a + x) AS bm
  FROM terms GROUP BY query_id, doc_id
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS term
  FROM tokl
),
mp AS (
  SELECT qt.query_id, p.doc_id, p.term, p.pos
  FROM pos p JOIN qt USING (term)
),
gaps AS (
  SELECT a.query_id, a.doc_id, a.term AS t1, b.term AS t2,
         abs(a.pos - b.pos) AS gap
  FROM mp a JOIN mp b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
   AND a.term < b.term
  WHERE abs(a.pos - b.pos) <= {int(window)}
),
mg AS (
  SELECT query_id, doc_id, t1, t2, min(gap) AS mg
  FROM gaps GROUP BY 1, 2, 3, 4
),
px AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list(1.0 / (mg::DOUBLE + 1.0) ORDER BY t1, t2)),
             (a, x) -> a + x) AS px
  FROM mg GROUP BY query_id, doc_id
),
scored AS (
  SELECT bm.query_id, bm.doc_id,
         round(bm.bm + {prox_weight!r}
               * coalesce(px.px, 0.0::DOUBLE), 6) AS score
  FROM bm LEFT JOIN px USING (query_id, doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {int(k)}
"""


# ---------------------------------------------------------------------------
# persisted inverted index (the standing-deployment form: postings and
# doc lengths are computed once and bucketed, so every query batch
# probes with zero corpus-side exchange — the LSH/IVF index lifecycle
# applied to lexical retrieval)
# ---------------------------------------------------------------------------

def _is_positional(m) -> bool:
    """Meta rows written before positional support read as False."""
    return "positional" in m.__fields__ and bool(m.positional)


def build_text_index(
    corpus: DataFrame,
    table_name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
    positional: bool = False,
) -> None:
    """Persist a corpus's BM25 inverted index for repeated probing:

    * ``<name>_postings`` (doc_id, __term, __tf) bucketed by term — the
      df aggregate and the query-vocabulary join read matching buckets
      with no exchange;
    * ``<name>_doclen`` (doc_id, __dl) bucketed by id — the
      length-normalization re-attach;
    * ``<name>_stats`` — the 1-row (N, total tokens) aggregate, written
      as a table (not collected) so probes broadcast it without a
      driver job;
    * ``<name>_meta`` — parameters + bucket spec + generation pointer
      (the append-only versioning contract shared with the LSH/IVF
      indexes);
    * with ``positional=True``, ``<name>_positions`` (doc_id, __term,
      __pos) bucketed by term — one row per token OCCURRENCE (heavier
      than the tf postings by the in-doc repeat factor), enabling
      exact phrase probes (``phrase_search_indexed``) without
      re-tokenizing the corpus per query batch.

    Tombstones (``delete_from_text_index``) are merge-on-read: probes
    anti-join ``<name>_deletes`` on doc_id and correct N/total/df
    in-plan, so BM25 statistics exclude deleted documents exactly; a
    full rebuild clears them FILE-level."""
    toks = (
        corpus.select(F.col(id_col).alias("doc_id"),
                      F.explode(_words(F.col(text_col))).alias("__term"))
        .groupBy("doc_id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dl = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.size(_words(F.col(text_col))).cast("long").alias("__dl"))
    ix.write(toks, ix.TEXT, table_name, "postings", num_buckets=num_buckets)
    ix.write(dl, ix.TEXT, table_name, "doclen", num_buckets=num_buckets)
    if positional:
        positions = corpus.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_words(F.col(text_col)))
            .alias("__pos", "__term"))
        ix.write(positions, ix.TEXT, table_name, "positions",
                 num_buckets=num_buckets)
    ix.write(_stats_row(dl), ix.TEXT, table_name, "stats")
    ix.finish_build(corpus.sparkSession, ix.TEXT, table_name,
                    text_col=text_col, id_col=id_col,
                    num_buckets=num_buckets, positional=bool(positional))


def _stats_row(dl: DataFrame) -> DataFrame:
    """The 1-row (N, total tokens) aggregate of a doclen frame."""
    return dl.agg(F.count(F.lit(1)).alias("__n_docs"),
                  F.coalesce(F.sum("__dl"), F.lit(0)).alias("__total"))


def extend_text_index(new_docs: DataFrame, table_name: str) -> None:
    """Incrementally index new documents (the ``extend_lsh_corpus_index``
    contract): postings and doclen rows APPEND into the existing bucket
    spec, and the corpus statistics append a DELTA row — ``_stats`` is
    append-only and every reader SUMS it, so the increment is one tiny
    write with no stats rewrite and no driver collect.  Searches after
    an extend equal a from-scratch index over the union (integer stats,
    same literal score arithmetic).  Re-appending a tombstoned id does
    NOT resurrect it (tombstones win until the next full build).
    Re-appending an id the index ALREADY CARRIES is skipped by an
    anti-join against the indexed doclen ids — without it the postings
    and the ``_stats`` deltas would silently double-count the document
    (the drift a 100 TB index discovers months later); the winning copy
    is the FIRST indexed one."""
    spark = new_docs.sparkSession
    m = ix.read_meta(spark, table_name)
    indexed_ids = spark.table(
        ix.phys(ix.TEXT, table_name, "doclen", m)).select(
        F.col("doc_id").alias(m.id_col))
    # the anti-join MUST be pinned (eager localCheckpoint of the tiny
    # batch-scale id set) before any append: the doclen write below
    # appends to the very table the anti-join reads, and a lazy re-read
    # during the stats-delta job would see the batch's own ids as
    # already indexed and write an empty delta
    fresh_ids = (
        new_docs.select(m.id_col)
        .join(indexed_ids, on=m.id_col, how="left_anti")
        .localCheckpoint(eager=True))
    new_docs = new_docs.join(fresh_ids, on=m.id_col, how="left_semi")
    toks = (
        new_docs.select(F.col(m.id_col).alias("doc_id"),
                        F.explode(_words(F.col(m.text_col))).alias("__term"))
        .groupBy("doc_id", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dl = new_docs.select(
        F.col(m.id_col).alias("doc_id"),
        F.size(_words(F.col(m.text_col))).cast("long").alias("__dl"))
    ix.write(toks, ix.TEXT, table_name, "postings", m, mode="append")
    ix.write(dl, ix.TEXT, table_name, "doclen", m, mode="append")
    if _is_positional(m):
        positions = new_docs.select(
            F.col(m.id_col).alias("doc_id"),
            F.posexplode(_words(F.col(m.text_col)))
            .alias("__pos", "__term"))
        ix.write(positions, ix.TEXT, table_name, "positions", m,
                 mode="append")
    ix.write(_stats_row(dl), ix.TEXT, table_name, "stats", m, mode="append")


def delete_from_text_index(ids: DataFrame, table_name: str,
                           id_col: "str | None" = None) -> None:
    """Tombstone deletion (the merge-on-read contract of
    ``sources/index.py::delete``): probes anti-join the deleted ids AND
    correct the corpus statistics in-plan, so a delete is O(delta) and
    scores match a from-scratch index over the surviving docs."""
    ix.delete(ids, ix.TEXT, table_name, id_col)


def _live_stats(spark, table_name: str, m) -> DataFrame:
    """1-row (N, total) with tombstoned docs subtracted: the summed
    stats deltas (``_stats`` is append-only — extend appends increments)
    minus a broadcast-joined (deletes ⨝ doclen) aggregate — all sides
    tiny, no corpus scan."""
    stats = spark.table(ix.phys(ix.TEXT, table_name, "stats", m)).agg(
        F.sum("__n_docs").alias("__n_docs"),
        F.sum("__total").alias("__total"))
    dels = ix.tombstones(spark, ix.TEXT, table_name, "doc_id")
    if dels is None:
        return stats
    gone = (
        spark.table(ix.phys(ix.TEXT, table_name, "doclen", m))
        .join(F.broadcast(dels), "doc_id")
        .agg(F.count(F.lit(1)).alias("__gn"),
             F.coalesce(F.sum("__dl"), F.lit(0)).alias("__gt"))
    )
    return (
        stats.crossJoin(F.broadcast(gone))
        .select((F.col("__n_docs") - F.col("__gn")).alias("__n_docs"),
                (F.col("__total") - F.col("__gt")).alias("__total"))
    )


def bm25_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
) -> DataFrame:
    """BM25 top-k against a ``build_text_index`` corpus: identical
    semantics (and oracle) to ``bm25_topk`` — the bucketed postings make
    the query-vocabulary join and the df aggregate exchange-free on the
    corpus side, and only the matched subset ever shuffles."""
    m = ix.read_meta(spark, table_name)
    qt = _query_terms(queries, query_id_col, query_text_col)
    post = ix.live(
        spark, ix.TEXT, table_name,
        spark.table(ix.phys(ix.TEXT, table_name, "postings", m))
        .join(F.broadcast(qt.select("__term").distinct()), "__term"),
        "doc_id")
    dl = ix.live_table(spark, ix.TEXT, table_name, "doclen", m)
    stats = _live_stats(spark, table_name, m)
    return _bm25_score(post, qt, dl, stats, k=k, k1=k1, b=b,
                       exclude_self=exclude_self)


def text_index_stats(spark, table_name: str) -> DataFrame:
    """Corpus-level statistics of the LIVE index content (tombstones
    excluded — the lsh_index_stats contract): one row
    (n_docs, total_tokens, n_terms, n_postings)."""
    m = ix.read_meta(spark, table_name)
    post = ix.live_table(spark, ix.TEXT, table_name, "postings", m)
    agg = post.agg(
        F.countDistinct("__term").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("n_postings"))
    return (
        _live_stats(spark, table_name, m)
        .crossJoin(F.broadcast(agg))
        .select(F.col("__n_docs").cast("long").alias("n_docs"),
                F.col("__total").cast("long").alias("total_tokens"),
                "n_terms", "n_postings")
    )


def attach_text_index(spark, table_name: str,
                      location_root: "str | None" = None) -> None:
    """Re-register a ``build_text_index`` written by an earlier session
    with its bucket spec (``sources/index.py::attach``)."""
    ix.attach(spark, ix.TEXT, table_name, location_root)


def ensure_text_index(spark, sf_dir: str) -> str:
    """Session-amortized build of the gate's BM25 index over documents
    (``sources/index.py::ensure``): fresh sessions always build; a
    parameter change or a partial index forces a rebuild via the meta
    row; same-session reruns time the probe only."""
    import os

    from ..sources.io import load_table

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    index = f"textidx_{tag}"
    return ix.ensure(
        spark, ix.TEXT, index,
        dict(text_col="text", id_col="doc_id", positional=True),
        lambda: build_text_index(load_table(spark, sf_dir, "documents"),
                                 index, positional=True))


def text_index_stats_oracle_sql(source: str = "documents") -> str:
    """Independent from-scratch derivation of ``text_index_stats`` —
    pins the persisted postings/doclen/stats content against the raw
    corpus (the lsh_index_stats oracle contract)."""
    return rf"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text,
                              '[ \t\n\x0b\f\r]+'), t -> t != '')) AS t
    FROM {source})
),
dl AS (
  SELECT doc_id,
         len(coalesce(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
                 t -> t != ''), []))::BIGINT AS dl
  FROM {source}
)
SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       (SELECT sum(dl) FROM dl)::BIGINT AS total_tokens,
       count(DISTINCT term)::BIGINT AS n_terms,
       count(DISTINCT (doc_id, term))::BIGINT AS n_postings
FROM toks
"""


def compact_text_index(spark, table_name: str, *,
                       keep_previous: bool = False) -> None:
    """Maintenance pass after ``extend_text_index`` appends and
    tombstones (``sources/index.py::compact``): postings, doclen and
    positions are rewritten with tombstoned docs folded out, and the
    append-only ``_stats`` deltas collapse into one exact row
    recomputed from the compacted doclen.  Results are unchanged."""
    from ..sources.formats import save_table

    def recompute_stats(new: dict) -> None:
        save_table(_stats_row(spark.table(new["doclen"])), new["stats"],
                   single_file=True)

    ix.compact(spark, ix.TEXT, table_name, keep_previous=keep_previous,
               rebuild=recompute_stats)


# ---------------------------------------------------------------------------
# hybrid retrieval — reciprocal-rank fusion of the lexical (BM25) and
# vector (exact cosine) channels, the standard RAG two-tower fusion.
# Integer ranks make the fusion score exact: each channel contributes
# 1/(c + rank) in one literal double op order, summed lexical-first.
# ---------------------------------------------------------------------------

def hybrid_topk_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_texts: DataFrame,
    query_vecs: DataFrame,
    *,
    k: int = 10,
    channel_k: int = 20,
    rrf_c: float = 60.0,
) -> DataFrame:
    """Top-k documents per query by reciprocal-rank fusion:
    ``rrf = 1/(c + rank_bm25) + 1/(c + rank_cosine)`` over the union of
    each channel's top ``channel_k`` (a doc missing from a channel
    contributes 0).  Both channels exclude self-matches.  Returns
    (query_id, doc_id, rrf_score, rank); 6-dp round before ranking,
    ties on doc_id.

    Scale shape: the channels are the already-audited operators
    (postings-pruned BM25, broadcast-queries cosine scan); fusion adds
    only a full-outer join of two ≤ |Q|·channel_k frames."""
    from .ann import cosine_topk

    lex = bm25_topk(docs, query_texts, k=channel_k,
                    exclude_self=True).select(
        "query_id", "doc_id", F.col("rank").alias("__rl"))
    vec = cosine_topk(embeddings, query_vecs, k=channel_k).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("__rv"))
    return _rrf_fuse(lex, vec, k=k, rrf_c=rrf_c)


def _rrf_fuse(lex: DataFrame, vec: DataFrame, *, k: int,
              rrf_c: float) -> DataFrame:
    """Shared RRF fusion tail: ``lex`` is (query_id, doc_id, __rl) and
    ``vec`` is (query_id, doc_id, __rv); both callers' oracles replay
    the same literal lexical-first double sum."""
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(rrf_c) + F.col("__rl").cast("double")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_c) + F.col("__rv").cast("double")),
                     F.lit(0.0))
    )
    fused = (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .select("query_id", "doc_id", F.round(rrf, 6).alias("rrf_score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


def hybrid_search_indexed(
    spark,
    text_index: str,
    ivf_index: str,
    query_texts: DataFrame,
    query_vecs: DataFrame,
    *,
    k: int = 10,
    channel_k: int = 20,
    rrf_c: float = 60.0,
    n_probe: int = 4,
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """``hybrid_topk_rrf`` over the STANDING-DEPLOYMENT channels: the
    lexical side probes a ``build_text_index`` corpus, the vector side a
    ``build_ivf_index`` — neither touches the raw corpus, so a query
    batch pays only the two index probes plus the tiny fusion join.
    With ``n_probe`` = the index's cell count the vector channel equals
    the exact scan and results match ``hybrid_topk_rrf`` bit-for-bit
    (pytest-pinned); at partial probe the fusion is over the audited
    IVF results instead."""
    from .ann import search_ivf_index

    lex = bm25_search_indexed(
        spark, text_index, query_texts, k=channel_k,
        exclude_self=True).select(
        "query_id", "doc_id", F.col("rank").alias("__rl"))
    vec = search_ivf_index(
        spark, ivf_index, query_vecs, vec_col=vec_col, id_col=vec_id_col,
        k=channel_k, n_probe=n_probe).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("__rv"))
    return _rrf_fuse(lex, vec, k=k, rrf_c=rrf_c)


def hybrid_prox_topk_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_texts: DataFrame,
    query_vecs: DataFrame,
    *,
    window: int = 8,
    k: int = 10,
    channel_k: int = 20,
    rrf_c: float = 60.0,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
    exclude_self: bool = False,
) -> DataFrame:
    """Three-channel reciprocal-rank fusion (r13 verdict stretch): the
    lexical (BM25) and vector (exact cosine) channels of
    :func:`hybrid_topk_rrf` plus a PROXIMITY channel ranked by
    :func:`proximity_rank` (BM25 fused with the k-term min-gap pair
    term) — position-aware evidence the bag-of-words channels cannot
    see.  ``rrf = 1/(c+r_lex) + 1/(c+r_vec) + 1/(c+r_prox)`` in one
    literal lexical→vector→proximity double sum over the union of each
    channel's top ``channel_k``; a doc missing from a channel
    contributes 0.  6-dp round before ranking, ties on doc_id.
    ``exclude_self`` governs the LEXICAL channel (for doc-derived
    query sets whose query_id is a doc_id); the cosine channel always
    excludes its own vector id (``cosine_topk``'s contract) and the
    proximity channel has no self notion — literal-phrase query sets
    leave ``exclude_self`` False.

    Scale shape: all three channels are the audited operators
    (postings-pruned BM25, broadcast-queries cosine scan, the banded
    __bk pair stage); fusion adds two full-outer joins of
    ≤ |Q|·channel_k frames."""
    from .ann import cosine_topk

    lex = bm25_topk(docs, query_texts, k=channel_k, k1=k1, b=b,
                    exclude_self=exclude_self).select(
        "query_id", "doc_id", F.col("rank").alias("__rl"))
    vec = cosine_topk(embeddings, query_vecs, k=channel_k).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("__rv"))
    prox = proximity_rank(docs, query_texts, window=window, k=channel_k,
                          k1=k1, b=b, prox_weight=prox_weight).select(
        "query_id", "doc_id", F.col("rank").alias("__rp"))
    return _rrf_fuse3(lex, vec, prox, k=k, rrf_c=rrf_c)


def hybrid_prox_search_indexed(
    spark,
    text_index: str,
    embeddings: DataFrame,
    query_texts: DataFrame,
    query_vecs: DataFrame,
    *,
    window: int = 8,
    k: int = 10,
    channel_k: int = 20,
    rrf_c: float = 60.0,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
) -> DataFrame:
    """:func:`hybrid_prox_topk_rrf` with the two LEXICAL channels
    riding one positional ``build_text_index`` (the BM25 fold off the
    postings, the proximity pair stage off the positions table — the
    session-amortized standing-deployment shape) and the vector channel
    the exact cosine scan.  Results match the on-the-fly form
    bit-for-bit (pytest-pinned), so the stacked corpus-derived oracle
    serves both and independently pins the persisted index content."""
    from .ann import cosine_topk

    lex = bm25_search_indexed(spark, text_index, query_texts,
                              k=channel_k, k1=k1, b=b).select(
        "query_id", "doc_id", F.col("rank").alias("__rl"))
    vec = cosine_topk(embeddings, query_vecs, k=channel_k).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("__rv"))
    prox = proximity_rank_indexed(spark, text_index, query_texts,
                                  window=window, k=channel_k, k1=k1,
                                  b=b, prox_weight=prox_weight).select(
        "query_id", "doc_id", F.col("rank").alias("__rp"))
    return _rrf_fuse3(lex, vec, prox, k=k, rrf_c=rrf_c)


def hybrid_prox_search_ivf(
    spark,
    text_index: str,
    ivf_index: str,
    query_texts: DataFrame,
    query_vecs: DataFrame,
    *,
    window: int = 8,
    k: int = 10,
    channel_k: int = 20,
    rrf_c: float = 60.0,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
    n_probe: int = 4,
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """:func:`hybrid_prox_topk_rrf` over the FULL standing-deployment
    channels (r14 verdict item 3): the two lexical channels ride one
    positional ``build_text_index`` (as in
    :func:`hybrid_prox_search_indexed`) and the vector channel probes a
    persisted ``build_ivf_index`` via :func:`~.ann.search_ivf_index` —
    no channel touches the raw corpus or embeddings, so a query batch
    pays two text-index probes, one cell-bucketed IVF probe, and the
    tiny fusion joins.  With ``n_probe`` = the index's cell count the
    vector channel equals the exact scan and results match the
    on-the-fly form bit-for-bit (pytest-pinned, the
    ``hybrid_search_indexed`` precedent); at partial probe the fusion
    runs over the audited IVF results instead."""
    from .ann import search_ivf_index

    lex = bm25_search_indexed(spark, text_index, query_texts,
                              k=channel_k, k1=k1, b=b).select(
        "query_id", "doc_id", F.col("rank").alias("__rl"))
    vec = search_ivf_index(
        spark, ivf_index, query_vecs, vec_col=vec_col, id_col=vec_id_col,
        k=channel_k, n_probe=n_probe).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("__rv"))
    prox = proximity_rank_indexed(spark, text_index, query_texts,
                                  window=window, k=channel_k, k1=k1,
                                  b=b, prox_weight=prox_weight).select(
        "query_id", "doc_id", F.col("rank").alias("__rp"))
    return _rrf_fuse3(lex, vec, prox, k=k, rrf_c=rrf_c)


def _rrf_fuse3(lex: DataFrame, vec: DataFrame, prox: DataFrame, *,
               k: int, rrf_c: float) -> DataFrame:
    """Three-channel RRF fusion tail shared by the on-the-fly and
    indexed forms: one literal lexical→vector→proximity double sum,
    6-dp round before ranking, doc_id ties."""
    f1 = lex.join(vec, ["query_id", "doc_id"], "full_outer")
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(rrf_c) + F.col("__rl").cast("double")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_c) + F.col("__rv").cast("double")),
                     F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_c) + F.col("__rp").cast("double")),
                     F.lit(0.0))
    )
    fused = (
        f1.join(prox, ["query_id", "doc_id"], "full_outer")
        .select("query_id", "doc_id", F.round(rrf, 6).alias("rrf_score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


def boolean_search_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    must_col: str = "must_terms",
    not_col: str = "not_terms",
) -> DataFrame:
    """Boolean retrieval over a ``build_text_index`` corpus: documents
    containing ALL whitespace-separated ``must_terms`` and NONE of the
    ``not_terms``.  Returns (query_id, doc_id), the classic
    inverted-index conjunctive query.

    100 TB shape: both term lists broadcast; the postings table is read
    twice with the broadcast term joins pruning first (only postings
    matching some query term ever leave the scans), the conjunction is
    one count-distinct-terms aggregate against the broadcast
    must-count, and the exclusion is an anti-join on (query, doc) —
    tombstoned docs excluded like every index probe."""
    m = ix.read_meta(spark, table_name)
    qt = queries.select(F.col(query_id_col).alias("query_id"),
                        _words(F.col(must_col)).alias("__m"),
                        _words(F.col(not_col)).alias("__x"))
    must = qt.select("query_id", F.explode("__m").alias("__term")).distinct()
    nmust = must.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__n_must"))
    banned = qt.select("query_id", F.explode("__x").alias("__term")).distinct()
    post = ix.live(
        spark, ix.TEXT, table_name,
        spark.table(ix.phys(ix.TEXT, table_name, "postings", m))
        .select("doc_id", "__term"),
        "doc_id")
    hits = (
        post.join(F.broadcast(must), "__term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("__term").alias("__n_hit"))
        .join(F.broadcast(nmust), "query_id")
        .where(F.col("__n_hit") == F.col("__n_must"))
        .select("query_id", "doc_id")
    )
    excluded = (
        post.join(F.broadcast(banned), "__term")
        .select("query_id", "doc_id").distinct()
    )
    return hits.join(excluded, on=["query_id", "doc_id"], how="left_anti")


def boolean_search_oracle_sql(queries_values: str, *,
                              source: str = "documents") -> str:
    """DuckDB replay of ``boolean_search_indexed`` from the raw corpus
    (independent of the persisted postings — pins index content too)."""
    ws = r"'[ \t\n\x0b\f\r]+'"
    return rf"""
WITH q AS (SELECT * FROM (VALUES {queries_values})
           q(query_id, must_terms, not_terms)),
must AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(must_terms, {ws}),
                            t -> t != '')) AS term
  FROM q
),
nmust AS (SELECT query_id, count(*) AS n FROM must GROUP BY 1),
banned AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(not_terms, {ws}),
                            t -> t != '')) AS term
  FROM q
),
post AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(text, {ws}),
                            t -> t != '')) AS term
  FROM {source}
),
hits AS (
  SELECT m.query_id, p.doc_id
  FROM post p JOIN must m USING (term)
  GROUP BY 1, 2
  HAVING count(DISTINCT term) = (SELECT n FROM nmust
                                 WHERE nmust.query_id = m.query_id)
)
SELECT h.query_id, h.doc_id FROM hits h
WHERE NOT EXISTS (
  SELECT 1 FROM post p JOIN banned b USING (term)
  WHERE b.query_id = h.query_id AND p.doc_id = h.doc_id)
"""
