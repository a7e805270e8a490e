"""The benchmark workloads: closed loops with one client that drive
lsh_spark's public functions on generated parquet inputs and check every
output against an independent pure-Python oracle.

Each workload supplies:
  * ``gen_setup()`` / ``gen_op(i)``: write inputs (harness work, untimed);
  * ``setup(spark)``: the program's set-up after ``get_spark`` (the index
    build), returning its timed parts;
  * ``warm_up(spark)``: warm-up ops;
  * ``op(spark, i)``: one timed op, ending in a ``collect`` of every output
    column;
  * ``check(i, out)``: the output check, returning the failures found and
    the recall counts;
  * ``probe_layers(spark, i, out)``: the traced run's per-layer calls, made
    between ops.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

import inputs
import observe
from lsh_spark import lsh_jaccard, lsh_min
from lsh_spark._core.batch import jaccard_pairs_batch, minhash_text_batch
from lsh_spark._core.euclidean import euclidean_bands_batch
from lsh_spark.functions.lsh import (
    lsh_euclidean,
    lsh_euclidean_bands_long,
    lsh_min_bands_long,
    minhash_bands_from_set,
    shingle_set_col,
)
from lsh_spark.operators.ann import euclidean_lsh_topk
from lsh_spark.operators.banding import tune_bands
from lsh_spark.operators.similarity_join import (
    build_lsh_corpus_index,
    compact_lsh_index,
    delete_from_lsh_index,
    extend_lsh_corpus_index,
    lsh_index_stats,
    lsh_self_dedup_pairs,
    lsh_similarity_join_indexed,
)
from lsh_spark.plans.cache import release_intermediates
from lsh_spark.streaming.documents import streaming_near_dup_against_index

NGRAM = 5
THRESHOLD = 0.7
SEED = 123
DOC_CHARS = 490
MUTATION_RATES = (0.01, 0.12)
BANDS = tune_bands(THRESHOLD)
# the persisted index pays its banding on every build, extend and probe:
# the cheapest plan that still meets tune_bands' recall target
INDEX_BANDS = tune_bands(THRESHOLD, max_signature_size=48)
# the kernel/function probes run on this many of the op's own docs
PROBE_DOCS = 1000
# the per-layer probes run after the first few ops only, so a traced run
# stays within the benchmark's time budget
PROBE_OPS = 2
DOC_SCHEMA = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])


def release(spark) -> None:
    """Drop everything operators persisted or broadcast, between ops."""
    release_intermediates()
    spark.catalog.clearCache()


class Oracle:
    """Exact string n-gram Jaccard by doc id, each doc's n-gram set built
    once."""

    def __init__(self, text_of: dict):
        self.text_of = text_of
        self.sets: dict[int, set] = {}

    def _set(self, i: int) -> set:
        if i not in self.sets:
            self.sets[i] = inputs.ngram_set(self.text_of[i], NGRAM)
        return self.sets[i]

    def jaccard(self, a: int, b: int) -> tuple[float, int]:
        sa, sb = self._set(a), self._set(b)
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        return (inter / union if union else 0.0), union

    def check(self, a: int, b: int, got: float) -> tuple[bool, float]:
        """The program hashes n-grams to 32 bits, so its Jaccard may differ
        from the exact one by a rare collision: allow two union elements.
        Returns (ok, exact Jaccard)."""
        j, union = self.jaccard(a, b)
        tol = 2.0 / max(union, 1) + 1e-9
        return abs(got - j) <= tol and j >= THRESHOLD - tol, j


class TextProbes:
    """Per-layer probes shared by the two document workloads: the ``_core``
    kernels single-threaded in this process, and the ``functions`` column
    UDFs on one partition into a noop sink, on the same rows, with the
    workload's own banding."""

    def __init__(self, bands):
        self.bc, self.bs = bands.band_count, bands.band_size

    def write(self, path_head: str, path_pairs: str, ids, texts,
              text_of, pairs) -> None:
        inputs.write_docs(path_head, ids[:PROBE_DOCS], texts[:PROBE_DOCS])
        inputs.write_pairs(path_pairs, [text_of[a] for a, _ in pairs],
                           [text_of[b] for _, b in pairs])

    def run(self, spark, path_head: str, path_pairs: str, texts,
            pair_texts) -> dict:
        head = list(texts[:PROBE_DOCS])
        m = {}
        core_min_s, _ = observe.timed(minhash_text_batch, head, NGRAM,
                                      self.bc, self.bs, SEED)
        m["core.minhash_docs_per_s"] = len(head) / core_min_s
        if pair_texts[0]:
            s, _ = observe.timed(jaccard_pairs_batch, *pair_texts, NGRAM)
            m["core.jaccard_pairs_per_s"] = len(pair_texts[0]) / s
        df = spark.read.parquet(path_head)
        n = len(head)
        fn_min_s = observe.noop_sink_s(df.select(lsh_min(
            "text", NGRAM, self.bc, self.bs, SEED)))
        m["functions.lsh_min_rows_per_s"] = n / fn_min_s
        m["functions.boundary_share"] = 1.0 - core_min_s / fn_min_s
        m["functions.shingle_set_rows_per_s"] = n / observe.noop_sink_s(
            df.select(shingle_set_col(F.col("text"), NGRAM)))
        sets = df.select(shingle_set_col(F.col("text"), NGRAM).alias("s"))
        sets = sets.coalesce(1).persist()
        sets.count()
        m["functions.bands_from_set_rows_per_s"] = n / observe.noop_sink_s(
            sets.select(minhash_bands_from_set(F.col("s"), self.bc, self.bs,
                                               SEED)))
        sets.unpersist()
        if pair_texts[0]:
            pairs = spark.read.parquet(path_pairs)
            m["functions.lsh_jaccard_rows_per_s"] = (
                len(pair_texts[0]) / observe.noop_sink_s(
                    pairs.select(lsh_jaccard("text_a", "text_b", NGRAM))))
        return m


class DedupCorpus:
    """``lsh_self_dedup_pairs`` over one fresh shard per op."""

    name = "dedup_corpus"
    SHARD_DOCS = 5000
    # the first op after the JVM starts is the slowest by far; a full-size
    # warm-up op takes it, and a minimum op count keeps every run's median
    # on the same stretch of the flatter curve that follows
    MIN_OPS = 4
    WARM_DOCS, WARM_OPS = SHARD_DOCS, 1
    DUP_FRAC = 0.2

    def __init__(self, workdir: str, seed: int, traced: bool):
        self.dir = os.path.join(workdir, "inputs")
        os.makedirs(self.dir, exist_ok=True)
        self.seed, self.traced = seed, traced
        self.vocab = inputs.Vocabulary(inputs.rng_for(seed, 0))
        self.shards: dict[int, tuple] = {}
        self.probes = TextProbes(BANDS)

    def _path(self, tag) -> str:
        return os.path.join(self.dir, f"shard_{tag}.parquet")

    def _gen(self, tag, stream: int, n_docs: int) -> None:
        ids, texts, planted = inputs.gen_shard(
            self.vocab, inputs.rng_for(self.seed, stream), 0, n_docs,
            self.DUP_FRAC, DOC_CHARS, MUTATION_RATES)
        inputs.write_docs(self._path(tag), ids, texts)
        self.shards[tag] = (ids, texts, planted)

    def gen_setup(self) -> None:
        self._gen("warm", 1, self.WARM_DOCS)

    def gen_op(self, i: int) -> None:
        self._gen(i, 100 + i, self.SHARD_DOCS)
        if self.traced and i < PROBE_OPS:
            ids, texts, planted = self.shards[i]
            self.probes.write(self._path(f"{i}_head"),
                              self._path(f"{i}_pairs"), ids, texts,
                              dict(zip(ids, texts)), planted)

    def items(self, i: int) -> int:
        return self.SHARD_DOCS

    def _dedup(self, spark, tag):
        return lsh_self_dedup_pairs(
            spark.read.parquet(self._path(tag)), "text", id_col="doc_id",
            ngram_width=NGRAM, band_count=BANDS.band_count,
            band_size=BANDS.band_size, seed=SEED,
            threshold=THRESHOLD).collect()

    def setup(self, spark) -> dict:
        return {}

    def warm_up(self, spark) -> None:
        for _ in range(self.WARM_OPS):
            self._dedup(spark, "warm")
            release(spark)

    def op(self, spark, i: int):
        return self._dedup(spark, i), {}, ()

    def check(self, i: int, rows) -> tuple[list[str], int, int]:
        ids, texts, planted = self.shards[i]
        oracle = Oracle(dict(zip(ids, texts)))
        errors, seen = [], set()
        for r in rows:
            a, b = int(r["id_a"]), int(r["id_b"])
            if a >= b or (a, b) in seen:
                errors.append(f"pair ({a}, {b}) unordered or repeated")
            seen.add((a, b))
            ok, j = oracle.check(a, b, float(r["jaccard"]))
            if not ok:
                errors.append(f"pair ({a}, {b}): jaccard {r['jaccard']} "
                              f"vs exact {j:.6f}")
        eligible = found = 0
        for a, b in planted:
            a, b = min(a, b), max(a, b)
            j, _ = oracle.jaccard(a, b)
            if j >= THRESHOLD:
                eligible += 1
                found += (a, b) in seen
        return errors, found, eligible

    def after_op(self, spark, i: int) -> None:
        release(spark)

    def probe_layers(self, spark, i: int, rows, op_s: float) -> dict:
        ids, texts, planted = self.shards[i]
        text_of = dict(zip(ids, texts))
        pair_texts = ([text_of[r["id_a"]] for r in rows],
                      [text_of[r["id_b"]] for r in rows])
        m = self.probes.run(spark, self._path(f"{i}_head"),
                            self._path(f"{i}_pairs"), texts, pair_texts)
        bands = (spark.read.parquet(self._path(i)).select(
            "doc_id", lsh_min_bands_long(
                F.col("text"), NGRAM, BANDS.band_count, BANDS.band_size,
                SEED).alias("b")).collect())
        cands = observe.band_candidates((r[0], r[1]) for r in bands)
        m["similarity_join.self_dedup_s"] = op_s
        m["similarity_join.candidates_per_op"] = cands
        m["similarity_join.pairs_per_candidate"] = len(rows) / max(cands, 1)
        release(spark)
        return m

    def probe_final(self, spark) -> dict:
        return AnnProbe(self.dir, self.seed).run(spark)

    def final_metrics(self, spark) -> dict:
        return {}


class AnnProbe:
    """The paper's ``lsh_euclidean`` blocking path (``euclidean_lsh_topk``)
    on a small clustered vector set: measured in the traced run of
    ``dedup_corpus``, since a ``vector_topk`` workload does not fit the
    benchmark's time budget on a 4-core host (see README)."""

    CLUSTERS, PER_CLUSTER, QUERIES, DIM = 200, 10, 50, 64
    SPREAD, CENTER_SCALE = 0.05, 10.0
    BUCKET_WIDTH, BAND_COUNT, BAND_SIZE, K = 4.0, 8, 2, 10

    def __init__(self, workdir: str, seed: int):
        rng = inputs.rng_for(seed, 7)
        centers, self.corpus, _ = inputs.gen_clustered_vectors(
            rng, self.CLUSTERS, self.PER_CLUSTER, self.DIM, self.SPREAD,
            self.CENTER_SCALE)
        pick = rng.integers(0, self.CLUSTERS, self.QUERIES)
        self.queries = centers[pick] + rng.normal(
            0.0, self.SPREAD, size=(self.QUERIES, self.DIM))
        self.qids = 10_000_000 + np.arange(self.QUERIES)
        self.corpus_path = os.path.join(workdir, "vectors.parquet")
        self.query_path = os.path.join(workdir, "queries.parquet")
        inputs.write_vectors(self.corpus_path, np.arange(len(self.corpus)),
                             self.corpus)
        inputs.write_vectors(self.query_path, self.qids, self.queries)

    def _bands(self, df):
        return df.select("vec_id", lsh_euclidean_bands_long(
            F.col("embedding"), self.BUCKET_WIDTH, self.BAND_COUNT,
            self.BAND_SIZE, SEED).alias("b")).collect()

    def run(self, spark) -> dict:
        corpus = spark.read.parquet(self.corpus_path)
        queries = spark.read.parquet(self.query_path)
        times = []
        for _ in range(2):  # the first call is cold; report the second
            t, rows = observe.timed(lambda: euclidean_lsh_topk(
                corpus, queries, k=self.K, bucket_width=self.BUCKET_WIDTH,
                band_count=self.BAND_COUNT, band_size=self.BAND_SIZE,
                seed=SEED).collect())
            times.append(t)
            release(spark)
        cn = self.corpus / np.linalg.norm(self.corpus, axis=1, keepdims=True)
        qn = self.queries / np.linalg.norm(self.queries, axis=1,
                                           keepdims=True)
        sims = qn @ cn.T
        truth = np.argsort(-sims, axis=1, kind="stable")[:, :self.K]
        row_of = {int(q): i for i, q in enumerate(self.qids)}
        got: dict[int, set] = {}
        bad = 0
        for r in rows:
            qi = row_of[int(r["query_id"])]
            want = sims[qi, int(r["neighbor_id"])]
            bad += int(abs(float(r["cosine_sim"]) - want) > 1e-6)
            got.setdefault(qi, set()).add(int(r["neighbor_id"]))
        recall = float(np.mean([len(got.get(i, set()) & set(truth[i]))
                                / self.K for i in range(self.QUERIES)]))
        core_s, _ = observe.timed(euclidean_bands_batch, self.corpus,
                                self.BUCKET_WIDTH, self.BAND_COUNT,
                                self.BAND_SIZE, SEED)
        fn_s = observe.noop_sink_s(corpus.select(lsh_euclidean(
            F.col("embedding"), self.BUCKET_WIDTH, self.BAND_COUNT,
            self.BAND_SIZE, SEED)))
        cands = observe.cross_candidates(self._bands(queries),
                                       self._bands(corpus))
        release(spark)
        return {
            "ann.topk_s": times[-1],
            "ann.candidates_per_query": cands / self.QUERIES,
            "ann.recall": recall,
            "ann.cosine_mismatches": bad,
            "core.euclidean_rows_per_s": len(self.corpus) / core_s,
            "functions.lsh_euclidean_rows_per_s": len(self.corpus) / fn_s,
        }


class IndexIngest:
    """Incremental ingest against a persisted LSH index: each op lands one
    batch file, drains it with ``streaming_near_dup_against_index``, extends
    the index with the survivors and, on a fixed cadence, tombstones ids and
    compacts the index."""

    name = "index_ingest"
    BASE_DOCS = 1500
    BATCH_DOCS = 500
    # a run is MIN_OPS ops, whose summed wall is always past --seconds.
    # Two ingests warm up: after one, the next drain still ran up to 30 %
    # slow, by an amount that varied from run to run
    MIN_OPS, WARM_OPS = 3, 2
    NUM_BUCKETS = 16
    PLANT_BASE, PLANT_ADDED, PLANT_TOMB = 40, 30, 10
    # every op tombstones DELETE_IDS ids; every third op (2, 5, ...) also
    # compacts, so a run is two plain ops and one compaction op: the median
    # is a plain op and the tail the compaction op
    COMPACT_EVERY, DELETE_IDS = 3, 10
    BATCH_ID0 = 1_000_000

    def __init__(self, workdir: str, seed: int, traced: bool):
        self.root = workdir
        self.dir = os.path.join(workdir, "inputs")
        os.makedirs(self.dir, exist_ok=True)
        self.seed, self.traced = seed, traced
        self.vocab = inputs.Vocabulary(inputs.rng_for(seed, 0))
        self.text_of: dict[int, str] = {}
        self.oracle = Oracle(self.text_of)
        self.batches: dict = {}
        self.probes = TextProbes(INDEX_BANDS)
        # input-side plan state (independent of program output)
        self.fresh_added: list[int] = []
        self.planted_targets: set[int] = set()
        self.tomb_pool: list[int] = []

    def _path(self, tag) -> str:
        return os.path.join(self.dir, f"batch_{tag}.parquet")

    def gen_setup(self) -> None:
        ids, texts, _ = inputs.gen_shard(
            self.vocab, inputs.rng_for(self.seed, 1), 0, self.BASE_DOCS,
            0.0, DOC_CHARS, MUTATION_RATES)
        self.base_ids = ids
        self.text_of.update(zip(ids, texts))
        inputs.write_docs(os.path.join(self.dir, "base.parquet"), ids, texts)
        # the warm-up batches: fresh docs, some deleted during warm-up
        self.warm = []
        for k in range(self.WARM_OPS):
            wids, wtexts, _ = inputs.gen_shard(
                self.vocab, inputs.rng_for(self.seed, 2, k),
                900_000 + 1000 * k, self.BATCH_DOCS, 0.0, DOC_CHARS,
                MUTATION_RATES)
            self.text_of.update(zip(wids, wtexts))
            inputs.write_docs(self._path(f"warm{k}"), wids, wtexts)
            deletes = wids[:self.DELETE_IDS]
            inputs.write_ids(self._path(f"warm{k}_delete"), deletes)
            self.warm.append((wids, deletes))

    def gen_op(self, i: int) -> None:
        """Batch i: fresh docs plus near-dups of live base docs, of fresh
        docs added by earlier ops and of tombstoned docs; plus the base ids
        op i tombstones."""
        rng = inputs.rng_for(self.seed, 100 + i)
        live_base = [d for d in self.base_ids
                     if d not in self.planted_targets]
        targets = [("base", d) for d in rng.choice(
            live_base, self.PLANT_BASE, replace=False)]
        if self.fresh_added:
            pool = [d for d in self.fresh_added
                    if d not in self.planted_targets]
            k = min(self.PLANT_ADDED, len(pool))
            targets += [("added", d) for d in rng.choice(pool, k,
                                                         replace=False)]
        k = min(self.PLANT_TOMB, len(self.tomb_pool))
        targets += [("tomb", self.tomb_pool.pop()) for _ in range(k)]
        first = self.BATCH_ID0 + 1000 * i
        n_fresh = self.BATCH_DOCS - len(targets)
        texts = [inputs.make_text(self.vocab, rng, DOC_CHARS)
                 for _ in range(n_fresh)]
        rates = rng.uniform(*MUTATION_RATES, size=len(targets))
        texts += [inputs.mutate(self.text_of[int(d)], self.vocab, rng, r)
                  for (_, d), r in zip(targets, rates)]
        ids = list(range(first, first + self.BATCH_DOCS))
        planted = [(kind, ids[n_fresh + j], int(d))
                   for j, (kind, d) in enumerate(targets)]
        self.planted_targets.update(int(d) for _, d in targets)
        self.text_of.update(zip(ids, texts))
        inputs.write_docs(self._path(i), ids, texts)
        cand = [d for d in self.base_ids if d not in self.planted_targets]
        deletes = [int(d) for d in rng.choice(cand, self.DELETE_IDS,
                                              replace=False)]
        self.planted_targets.update(deletes)
        self.tomb_pool.extend(deletes)
        inputs.write_ids(self._path(f"{i}_delete"), deletes)
        self.batches[i] = (ids, planted, deletes)
        self.fresh_added.extend(ids[:n_fresh])
        if self.traced and i < PROBE_OPS:
            self.probes.write(self._path(f"{i}_head"),
                              self._path(f"{i}_pairs"), ids, texts,
                              self.text_of, [(a, b) for _, a, b in planted])

    def items(self, i: int) -> int:
        return self.BATCH_DOCS

    # -- the program's index lifecycle ------------------------------------

    def setup(self, spark) -> dict:
        self.table = "idx"
        self.landing = os.path.join(self.root, "landing")
        self.sink = os.path.join(self.root, "sink")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.seen_sink: set[str] = set()
        self.live = set(self.base_ids)
        self.tombstoned: set[int] = set()
        t0 = time.perf_counter()
        build_lsh_corpus_index(
            spark.read.parquet(os.path.join(self.dir, "base.parquet")),
            self.table, text_col="text", id_col="doc_id", ngram_width=NGRAM,
            band_count=INDEX_BANDS.band_count,
            band_size=INDEX_BANDS.band_size, seed=SEED,
            num_buckets=self.NUM_BUCKETS)
        release(spark)
        return {"build_s": time.perf_counter() - t0}

    def warm_up(self, spark) -> None:
        for k, (wids, deletes) in enumerate(self.warm):
            matches, _, _ = self._ingest(spark, f"warm{k}", deletes, False)
            release(spark)
            self._apply(wids, matches, deletes)

    def _drain(self, spark, tag):
        shutil.copy(self._path(tag),
                    os.path.join(self.landing, f"part-{tag}.parquet"))
        q = streaming_near_dup_against_index(
            spark.readStream.schema(DOC_SCHEMA).parquet(self.landing),
            spark, self.table, self.sink, self.ckpt, text_col="text",
            id_col="doc_id", threshold=THRESHOLD)
        q.awaitTermination()
        fresh = sorted(os.path.join(self.sink, d)
                       for d in (os.listdir(self.sink)
                                 if os.path.isdir(self.sink) else ())
                       if d.startswith("batch_id=") and d not in
                       self.seen_sink)
        self.seen_sink.update(os.path.basename(d) for d in fresh)
        return q.runId, fresh

    def _ingest(self, spark, tag, delete_ids, compact: bool):
        """land → drain → extend with survivors [→ delete] [→ compact]"""
        parts = {}
        t0 = time.perf_counter()
        run_id, fresh = self._drain(spark, tag)
        matches = (spark.read.parquet(*fresh).collect() if fresh else [])
        t1 = time.perf_counter()
        parts["drain_s"] = t1 - t0
        batch = spark.read.parquet(self._path(tag))
        hit = sorted({int(r["doc_id_left"]) for r in matches})
        if hit:
            batch = batch.where(~F.col("doc_id").isin(hit))
        extend_lsh_corpus_index(batch, self.table)
        t2 = time.perf_counter()
        parts["extend_s"] = t2 - t1
        if delete_ids:
            delete_from_lsh_index(
                spark.read.parquet(self._path(f"{tag}_delete")), self.table)
            parts["delete_s"] = time.perf_counter() - t2
        if compact:
            t3 = time.perf_counter()
            compact_lsh_index(spark, self.table)
            parts["compact_s"] = time.perf_counter() - t3
        return matches, parts, (run_id,)

    def _apply(self, batch_ids, matches, deletes) -> None:
        hit = {int(r["doc_id_left"]) for r in matches}
        self.live.update(d for d in batch_ids if d not in hit)
        self.live.difference_update(deletes)
        self.tombstoned.update(deletes)

    def op(self, spark, i: int):
        _, _, deletes = self.batches[i]
        compact = i % self.COMPACT_EVERY == self.COMPACT_EVERY - 1
        return self._ingest(spark, i, deletes, compact)

    def check(self, i: int, rows) -> tuple[list[str], int, int]:
        ids, planted, deletes = self.batches[i]
        batch = set(ids)
        errors, seen = [], set()
        for r in rows:
            p, t = int(r["doc_id_left"]), int(r["doc_id_right"])
            if p not in batch:
                errors.append(f"probe id {p} is not in batch {i}")
                continue
            if t in self.tombstoned:
                errors.append(f"match ({p}, {t}) hits a tombstoned id")
            elif t not in self.live:
                errors.append(f"match ({p}, {t}) hits an id never indexed")
            if (p, t) in seen:
                errors.append(f"match ({p}, {t}) repeated")
            seen.add((p, t))
            ok, j = self.oracle.check(p, t, float(r["jaccard"]))
            if not ok:
                errors.append(f"match ({p}, {t}): jaccard {r['jaccard']} "
                              f"vs exact {j:.6f}")
        eligible = found = 0
        for kind, copy, target in planted:
            if kind == "tomb" or target not in self.live:
                continue
            j, _ = self.oracle.jaccard(copy, target)
            if j >= THRESHOLD:
                eligible += 1
                found += (copy, target) in seen
        self._apply(ids, rows, deletes)
        return errors, found, eligible

    def after_op(self, spark, i: int) -> None:
        release(spark)

    def probe_before(self, spark, i: int) -> dict:
        """The direct probe of the op's batch, before the op indexes it."""
        t, _ = observe.timed(lambda: lsh_similarity_join_indexed(
            spark, self.table, spark.read.parquet(self._path(i)), "text",
            probe_id="doc_id", threshold=THRESHOLD).collect())
        release(spark)
        return {"similarity_join.probe_s": t}

    def _index_dirs(self, spark) -> list[str]:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        return [os.path.join(wh, d) for d in sorted(os.listdir(wh))
                if d.startswith(f"{self.table}_")]

    def probe_layers(self, spark, i: int, rows, op_s: float) -> dict:
        ids, planted, _ = self.batches[i]
        texts = [self.text_of[d] for d in ids]
        hit = [(int(r["doc_id_left"]), int(r["doc_id_right"]))
               for r in rows]
        pair_texts = ([self.text_of[a] for a, _ in hit],
                      [self.text_of[b] for _, b in hit])
        m = self.probes.run(spark, self._path(f"{i}_head"),
                            self._path(f"{i}_pairs"), texts, pair_texts)
        stats = lsh_index_stats(spark, self.table).agg(
            F.max("max_bucket")).first()[0]
        m["similarity_join.max_bucket"] = stats
        release(spark)
        return m

    def probe_final(self, spark) -> dict:
        return {}

    def final_metrics(self, spark) -> dict:
        files, size = observe.dir_files_bytes(self._index_dirs(spark))
        text_bytes = sum(len(self.text_of[d].encode()) for d in self.live)
        return {"sources.index_files": files, "sources.index_bytes": size,
                "index_bytes_per_input_byte": size / text_bytes}


WORKLOADS = {w.name: w for w in (DedupCorpus, IndexIngest)}
