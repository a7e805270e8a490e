"""The persisted-index lifecycle every index family shares.

A persisted index ``<name>`` is a set of catalog tables plus an
append-only ``<name>_meta`` table.  The meta row pins the build
parameters (probes and extends read them from there, never from caller
arguments), the bucket spec, and a generation pointer ``version``.
Each family (LSH, text, CDC, IVF/IVF-SQ8, PQ, IVF-PQ, Bloom) declares
its tables once in an :class:`IndexSpec`, and this module runs the
contract the families used to copy by hand:

* **meta and names** — :func:`read_meta` resolves the current meta row
  (latest ``version`` wins) and :func:`phys` the physical table a
  logical one lives in at that generation;
* **merge-on-read tombstones** — :func:`delete` appends ids to
  ``<name>_deletes`` (adopting a surviving directory from an earlier
  session first) and :func:`live` anti-joins them (broadcast: deletion
  sets are small next to the corpus);
* **attach** — :func:`attach` re-registers an index written by an
  earlier session (the default catalog is in-memory) with the bucket
  spec it was written with;
* **compaction** — :func:`compact` rewrites every versioned table with
  the tombstones folded out into generation N+1 and publishes it by
  appending one meta row;
* **build epilogue** — :func:`finish_build` sweeps old generations,
  writes the meta row, clears the tombstones and drops optional tables
  the new build does not use;
* **ensure** — :func:`ensure` rebuilds a session-amortized index when
  its parameters changed or any table of its current generation is
  missing.

The on-disk layout is exactly what the spec says: a build writes, an
extend appends, an attach registers and a compaction rewrites each table
with the same ``bucket_by``/``sort_by``.  Spark refuses an append whose
bucket spec differs from the table's, so the four must never disagree.
"""

from __future__ import annotations

import os
import re
import sys
import time
from dataclasses import dataclass
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .formats import (
    _table_location,
    _warehouse_path,
    attach_bucketed_table,
    attach_table,
    drop_table_and_files,
    save_table,
    write_bucketed_table,
)


@dataclass(frozen=True)
class Table:
    """One table of an index family.

    ``suffix`` names it ``<name>_<suffix>`` ("" is the bare index name).
    ``bucket_by``/``sort_by`` are its bucket spec (empty: a plain table;
    the bucket count is the meta row's ``num_buckets``).  ``versioned``
    tables move to ``<table>_v{N}`` at compaction generation N; the rest
    stay at the bare name.  ``when`` = (meta field, value) makes the
    table optional: it exists only while the meta row carries that value.
    ``fold_on`` is the column compaction anti-joins the tombstones on;
    a versioned table without one is rewritten by the family's own
    compaction step."""

    suffix: str
    bucket_by: tuple = ()
    sort_by: tuple = ()
    versioned: bool = False
    when: "tuple | None" = None
    fold_on: "str | None" = None
    single_file: bool = False


@dataclass(frozen=True)
class IndexSpec:
    """A family's tables, its tombstone column (``None``: the family has
    no deletes) and its meta schema — (column, Spark SQL type) in the
    order ``finish_build`` writes them."""

    family: str
    tables: tuple
    tombstone: "str | None"
    meta: tuple

    def table(self, suffix: str) -> Table:
        return next(t for t in self.tables if t.suffix == suffix)

    def present(self, m) -> list:
        """The tables an index with meta row (or values) ``m`` has."""
        fields = m if isinstance(m, Mapping) else m.asDict()
        return [t for t in self.tables
                if t.when is None or fields.get(t.when[0]) == t.when[1]]


def _t(suffix: str, *bucket_by: str, sort: bool = False,
       fold_on: "str | None" = None, versioned: "bool | None" = None,
       **kw) -> Table:
    """Spec shorthand: a table that folds tombstones is versioned."""
    if versioned is None:
        versioned = fold_on is not None
    return Table(suffix, tuple(bucket_by), tuple(bucket_by) if sort else (),
                 versioned=versioned, fold_on=fold_on, **kw)


_I, _S = "int", "string"

LSH = IndexSpec(
    "lsh",
    (_t("bands", "band_idx", "band_hash", fold_on="__rid"),
     _t("sets", "__rid", fold_on="__rid")),
    "__rid",
    (("text_col", _S), ("id_col", _S), ("ngram_width", _I),
     ("band_count", _I), ("band_size", _I), ("seed", _I),
     ("shingle", _S), ("num_buckets", _I), ("version", _I)))

TEXT = IndexSpec(
    "text",
    (_t("postings", "__term", sort=True, fold_on="doc_id"),
     _t("doclen", "doc_id", fold_on="doc_id"),
     _t("positions", "__term", sort=True, fold_on="doc_id",
        when=("positional", True)),
     # append-only deltas readers SUM; compaction recomputes it
     _t("stats", versioned=True, single_file=True)),
    "__rid",
    (("text_col", _S), ("id_col", _S), ("num_buckets", _I),
     ("positional", "boolean"), ("version", _I)))

CDC = IndexSpec(
    "cdc",
    (_t("chunks", "__ch", fold_on="__rid"),),
    "__rid",
    (("id_col", _S), ("text_col", _S), ("window", _I), ("base", "bigint"),
     ("divisor", _I), ("num_buckets", _I), ("version", _I)))

IVF = IndexSpec(
    "ivf",
    (_t("", "__cell", sort=True, fold_on="neighbor_id"),
     _t("centroids", single_file=True),
     # frozen sq8 quantization bounds
     _t("bounds", single_file=True, when=("storage", "sq8"))),
    "neighbor_id",
    (("vec_col", _S), ("id_col", _S), ("n_lists", _I), ("n_iters", _I),
     ("num_buckets", _I), ("version", _I), ("storage", _S), ("dim", _I)))

PQ = IndexSpec(
    "pq",
    (_t("codes", fold_on="neighbor_id"),
     _t("codebooks", single_file=True)),
    "neighbor_id",
    (("vec_col", _S), ("id_col", _S), ("m", _I), ("n_codes", _I),
     ("n_iters", _I), ("dim", _I), ("version", _I)))

IVF_PQ = IndexSpec(
    "ivf_pq",
    (_t("codes", "__cell", sort=True, fold_on="neighbor_id"),
     _t("centroids", single_file=True),
     _t("codebooks", single_file=True)),
    "neighbor_id",
    (("vec_col", _S), ("id_col", _S), ("n_lists", _I), ("cells_iters", _I),
     ("m", _I), ("n_codes", _I), ("pq_iters", _I), ("dim", _I),
     ("num_buckets", _I), ("version", _I)))

# no deletes: clearing a Bloom bit would false-negative other members
BLOOM = IndexSpec(
    "bloom",
    (_t("words"), _t("stats", single_file=True)),
    None,
    (("m_bits", "bigint"), ("k", _I), ("text_col", _S), ("version", _I)))

# the cluster-gate labels: one table, parameters pinned, no generations
CLUSTER_LABELS = IndexSpec(
    "cluster_labels",
    (_t("", single_file=True),),
    None,
    (("ngram_width", _I), ("band_count", _I), ("band_size", _I),
     ("seed", _I)))


# ---------------------------------------------------------------------------
# meta rows and generations
# ---------------------------------------------------------------------------

def versioned_name(base: str, version) -> str:
    """Physical table name for logical table ``base`` at generation
    pointer ``version``: generation 0 (a fresh build) uses the bare base
    name, compaction generations N >= 1 use ``<base>_v{N}``.  The pointer
    itself rides in the index's ``_meta`` table (latest row wins — see
    :func:`index_meta`), so swapping generations is one appended meta row
    instead of a rename window."""
    v = 0 if version is None else int(version)
    return base if v == 0 else f"{base}_v{v}"


def index_meta(spark: SparkSession, meta_table: str):
    """The CURRENT meta row of a persisted index: ``_meta`` is
    append-only — compaction appends a row with a bumped ``version``
    pointer rather than overwriting, so the single-row append IS the
    generation swap (readers resolve max(version); a reader racing the
    append sees either the old or the new row, each pointing at a
    fully-written generation).  Pre-versioning meta tables (no
    ``version`` column) read as generation 0."""
    meta = spark.table(meta_table)
    if "version" in meta.columns:
        return meta.orderBy(F.col("version").desc()).first()
    return meta.first()


def meta_version(m) -> int:
    """Generation pointer of a meta row (0 when the column predates
    versioning)."""
    return int(m.version) if "version" in m.__fields__ else 0


def read_meta(spark: SparkSession, name: str):
    """Current meta row of index ``name``."""
    return index_meta(spark, f"{name}_meta")


def _base(name: str, t: Table) -> str:
    return f"{name}_{t.suffix}" if t.suffix else name


def phys(spec: IndexSpec, name: str, suffix: str, m) -> str:
    """Physical name of table ``suffix`` of index ``name`` at the
    generation meta row ``m`` points to."""
    t = spec.table(suffix)
    return versioned_name(_base(name, t), meta_version(m) if t.versioned
                          else 0)


def generation_in_warehouse(spark: SparkSession, name: str) -> bool:
    """True when a physical generation's files live at the session
    warehouse's default directory for that name — managed tables, and
    external tables registered by the ``attach`` default.  Compaction
    requires this: a new generation always lands in the warehouse, so
    compacting an index whose current generation sits at a CUSTOM
    location would split the index across directories (and the old
    files there are someone else's to reclaim)."""
    loc = _table_location(spark, name)
    if loc is None:
        return True
    default = os.path.join(_warehouse_path(spark), name.lower())
    return os.path.realpath(loc) == os.path.realpath(default)


def drop_versioned_siblings(spark: SparkSession, base: str,
                            keep_version: int) -> None:
    """Remove every physical generation of logical table ``base`` except
    ``keep_version`` (-1 keeps none) — catalog entries AND files.  Run by
    the build epilogue (keep 0: a rebuild starts the history over) and by
    compaction (keep the current pointer: sweeps both the un-dropped
    previous generation of a crashed cleanup and the half-written target
    of a crashed rewrite).  Generations are discovered from the catalog
    and the warehouse directory listing, so orphans with no catalog entry
    are swept too."""
    pat = re.compile(rf"^{re.escape(base.lower())}(_v(\d+))?$")
    found: dict[int, str] = {}
    wh = _warehouse_path(spark)
    if wh and os.path.isdir(wh):
        for d in os.listdir(wh):
            mt = pat.match(d)
            if mt and os.path.isdir(os.path.join(wh, d)):
                found[int(mt.group(2) or 0)] = d
    for v in found:
        if v != keep_version:
            drop_table_and_files(spark, versioned_name(base, v))
    # catalog entries pointing elsewhere (externally-attached generations)
    for t in spark.catalog.listTables():
        mt = pat.match(t.name.lower())
        if mt and int(mt.group(2) or 0) != keep_version:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _write(df: DataFrame, t: Table, target: str, num_buckets,
           mode: str) -> None:
    if not t.bucket_by:
        save_table(df, target, mode=mode, single_file=t.single_file)
        return
    write_bucketed_table(df, target, bucket_by=list(t.bucket_by),
                         num_buckets=int(num_buckets),
                         sort_by=list(t.sort_by) or None, mode=mode)


def write(df: DataFrame, spec: IndexSpec, name: str, suffix: str, m=None,
          *, num_buckets: "int | None" = None,
          mode: str = "overwrite") -> None:
    """Write (or with ``mode="append"`` extend) table ``suffix`` with the
    spec's bucket spec: at the generation meta row ``m`` points to, or at
    the bare name when ``m`` is None (a build, before its meta row
    exists).  ``num_buckets`` defaults to the meta row's."""
    t = spec.table(suffix)
    target = _base(name, t) if m is None else phys(spec, name, suffix, m)
    if num_buckets is None and t.bucket_by:
        num_buckets = m.num_buckets
    _write(df, t, target, num_buckets, mode)


# ---------------------------------------------------------------------------
# merge-on-read tombstones
# ---------------------------------------------------------------------------

def tombstones(spark: SparkSession, spec: IndexSpec, name: str,
               on: "str | None" = None) -> "DataFrame | None":
    """The index's tombstoned ids as one column named ``on`` (default:
    the spec's tombstone column), or None when nothing is deleted."""
    dels = f"{name}_deletes"
    if spec.tombstone is None or not spark.catalog.tableExists(dels):
        return None
    d = spark.table(dels)
    if on is None or on == spec.tombstone:
        return d
    return d.select(F.col(spec.tombstone).alias(on))


def live(spark: SparkSession, spec: IndexSpec, name: str, df: DataFrame,
         on: "str | None" = None) -> DataFrame:
    """``df`` without tombstoned rows: a broadcast anti-join on ``on``
    (default: the spec's tombstone column).  The broadcast keeps a
    bucketed side's partitioning, so downstream bucket joins stay
    exchange-free.  No-op when the index has no deletes table."""
    d = tombstones(spark, spec, name, on)
    if d is None:
        return df
    return df.join(F.broadcast(d), on=on or spec.tombstone, how="left_anti")


def live_table(spark: SparkSession, spec: IndexSpec, name: str,
               suffix: str, m) -> DataFrame:
    """The live rows of table ``suffix`` at ``m``'s generation."""
    return live(spark, spec, name,
                spark.table(phys(spec, name, suffix, m)),
                spec.table(suffix).fold_on)


def _adopt_orphan_tombstones(spark: SparkSession, name: str,
                             root: "str | None" = None) -> None:
    """Register a ``<name>_deletes`` directory that survives under
    ``root`` (default: the session warehouse) from an earlier session but
    has no catalog entry, so tombstones keep masking and an append MERGES
    with them instead of the stale-orphan clear deleting them (silent
    loss of earlier deletions).  No-op when the catalog knows the table
    or no directory survives."""
    dels = f"{name}_deletes"
    loc = os.path.join(root or _warehouse_path(spark), dels.lower())
    if os.path.isdir(loc):
        attach_table(spark, dels, loc)


def delete(ids: DataFrame, spec: IndexSpec, name: str,
           id_col: "str | None" = None) -> None:
    """Tombstone deletion — the merge-on-read shape: the distinct ids
    append to a tiny ``<name>_deletes`` table that every probe
    anti-joins, so a delete is O(delta) instead of a rewrite of the
    bucketed index.  Physical removal happens at the next compaction or
    full build.  A tombstoned id stays deleted even if it is appended
    again by an extend — rebuild to resurrect it.  ``id_col`` defaults
    to the indexed id column (meta row)."""
    spark = ids.sparkSession
    if id_col is None:
        id_col = read_meta(spark, name).id_col
    rows = ids.select(F.col(id_col).alias(spec.tombstone)).distinct()
    # save_table(mode="append") creates the table when absent and appends
    # when the catalog knows it.  Fail CLOSED on the in-between:
    # tombstones surviving on disk from an earlier session with no
    # catalog entry would be rmtree'd by the stale-orphan clear, so
    # adopt them first and the append merges instead
    _adopt_orphan_tombstones(spark, name)
    save_table(rows, f"{name}_deletes", mode="append", single_file=True)


# ---------------------------------------------------------------------------
# attach, compaction, build epilogue, ensure
# ---------------------------------------------------------------------------

def attach(spark: SparkSession, spec: IndexSpec, name: str,
           location_root: "str | None" = None) -> None:
    """Re-register an index written by an EARLIER session: the default
    catalog is in-memory, so the tables' files survive in the warehouse
    but a new session cannot see them.  Reads the meta row, then
    re-creates every table of its current generation as an external
    table over its files — bucket spec included, so probes keep their
    exchange-free corpus side — plus ``_deletes`` when its directory
    survives, so tombstones keep masking.  ``location_root`` is the
    directory holding the table directories (default: the session
    warehouse).  No-op for tables the catalog already knows."""
    root = location_root or _warehouse_path(spark)

    def loc(table: str) -> str:
        return os.path.join(root, table.lower())

    attach_table(spark, f"{name}_meta", loc(f"{name}_meta"))
    m = read_meta(spark, name)
    for t in spec.present(m):
        p = phys(spec, name, t.suffix, m)
        if t.bucket_by:
            attach_bucketed_table(
                spark, p, bucket_by=list(t.bucket_by),
                num_buckets=int(m.num_buckets),
                sort_by=list(t.sort_by) or None, location=loc(p))
        else:
            attach_table(spark, p, loc(p))
    if spec.tombstone is not None:
        _adopt_orphan_tombstones(spark, name, root)


def compact(spark: SparkSession, spec: IndexSpec, name: str, *,
            keep_previous: bool = False,
            rebuild: "Callable[[dict], None] | None" = None) -> None:
    """Maintenance pass after many extends and deletes: rewrite every
    versioned table into one file-set per bucket with the tombstoned rows
    FOLDED OUT, then truncate ``_deletes`` — a long-lived index stops
    paying a growing anti-join and per-file opens, and deleted payloads
    are reclaimed without a full rebuild.  Results are unchanged; the
    bucket spec survives.  ``rebuild`` receives {suffix: new physical
    name} and writes the versioned tables that have no ``fold_on``.

    The generation swap is probe-safe: the compacted tables are NEW
    physical tables (``<table>_v{N+1}`` — the generation probes are
    reading is never touched), published by appending one meta row with
    the bumped ``version``; a probe resolving the index mid-compaction
    sees either generation, each fully on disk.  With
    ``keep_previous=True`` the old generation's files (and the folded
    ``_deletes`` rows, which its readers still need) stay on disk for
    in-flight plans that already resolved them — the next compaction
    sweeps them; the default reclaims them immediately.

    Works on warehouse-resident indexes, built this session (managed) or
    re-registered by :func:`attach` at the warehouse default; an index
    attached at a CUSTOM ``location_root`` is refused — the compacted
    generation always lands in the session warehouse, which would split
    the index across directories."""
    m = read_meta(spark, name)
    cur = meta_version(m)
    nxt = cur + 1
    tables = [t for t in spec.present(m) if t.versioned]
    for t in tables:
        p = versioned_name(_base(name, t), cur)
        if not generation_in_warehouse(spark, p):
            raise ValueError(
                f"refusing to compact {name}: {p} is attached at a custom "
                "location, and the compacted generation always lands in "
                "the session warehouse — the index would end up split "
                "across directories; copy it into the warehouse (the "
                "attach default) or rebuild first")
    had_deletes = tombstones(spark, spec, name) is not None
    new = {t.suffix: versioned_name(_base(name, t), nxt) for t in tables}
    for t in tables:
        # sweep crashed-compaction debris: a half-written target or an
        # un-dropped previous generation both differ from the pointer
        drop_versioned_siblings(spark, _base(name, t), cur)
    for t in tables:
        if t.fold_on is not None:
            _write(live_table(spark, spec, name, t.suffix, m), t,
                   new[t.suffix], m.num_buckets if t.bucket_by else None,
                   "overwrite")
    if rebuild is not None:
        rebuild(new)
    meta = f"{name}_meta"
    if "version" not in spark.table(meta).columns:
        # pre-versioning index: one-time meta migration (add the pointer
        # column at generation cur) before the append-only flip below
        migrated = spark.table(meta).withColumn("version",
                                                F.lit(cur).cast("int"))
        save_table(migrated.localCheckpoint(eager=True), meta,
                   single_file=True)
    flipped = spark.range(1).select(
        *[F.lit(m[c]).alias(c) for c in spark.table(meta).columns
          if c != "version"],
        F.lit(nxt).cast("int").alias("version"))
    save_table(flipped, meta, mode="append", single_file=True)
    if not keep_previous:
        for t in tables:
            drop_table_and_files(spark, versioned_name(_base(name, t), cur))
        if had_deletes:
            # folded into generation nxt — stale for its readers; kept
            # under keep_previous because generation cur still needs it
            drop_table_and_files(spark, f"{name}_deletes")


def finish_build(spark: SparkSession, spec: IndexSpec, name: str,
                 **meta) -> None:
    """The epilogue of every ``build_*``, after its tables are written
    at generation 0: sweep the compaction generations the old pointer
    left behind (a rebuild starts the history over), drop optional
    tables this build did not write (so a later attach cannot re-register
    a stale one), write the meta row, and clear the tombstones
    FILE-level (a full build physically removes everything tombstoned;
    a catalog-only DROP would leave the directory for a later attach to
    resurrect).  ``meta`` gives every column of ``spec.meta`` except
    ``version``."""
    meta = {**meta, "version": 0}
    present = spec.present(meta)
    for t in spec.tables:
        if t not in present:
            drop_versioned_siblings(spark, _base(name, t), -1)
        elif t.versioned:
            drop_versioned_siblings(spark, _base(name, t), 0)
    # literal projection over range(1), NOT createDataFrame: a
    # python-local relation pays the Python-runner serialization path on
    # every write (measured 5 s per one-row write vs 0.2 s for this form)
    row = spark.range(1).select(
        *[F.lit(meta[c]).cast(typ).alias(c) for c, typ in spec.meta])
    save_table(row, f"{name}_meta", single_file=True)
    if spec.tombstone is not None:
        drop_table_and_files(spark, f"{name}_deletes")


def ensure(spark: SparkSession, spec: IndexSpec, name: str,
           want: Mapping, build: Callable[[], None]) -> str:
    """Session-amortized index ``name``: build once per session, keyed
    on the meta-pinned parameters ``want``.  A parameter change forces a
    rebuild (gate hermeticity), and so does a PARTIAL index — a meta row
    whose current-generation tables are not all there (an overwrite in
    ``saveAsTable`` drops the table first, so a rebuild that dies
    mid-write leaves the old meta beside a missing table).  Same-session
    reruns reuse the index and time the probe only; a fresh session has
    an empty in-memory catalog, so it always builds.  The build wall
    goes to stderr so bench logs keep the two costs separate."""
    from .io import _ensure_session_confs

    _ensure_session_confs(spark)
    have = None
    if spark.catalog.tableExists(f"{name}_meta"):
        m = read_meta(spark, name)
        fields = m.asDict()
        if all(spark.catalog.tableExists(phys(spec, name, t.suffix, m))
               for t in spec.present(m)):
            have = {k: fields.get(k) for k in want}
    if have != dict(want):
        t0 = time.perf_counter()
        build()
        print(f"# ensure: {spec.family} index {name} build took "
              f"{time.perf_counter() - t0:.2f}s (reused by later runs in "
              f"this session)", file=sys.stderr)
    return name
