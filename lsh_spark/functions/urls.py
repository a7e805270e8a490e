"""URL / domain extraction — the C4 / RefinedWeb-style URL-filtering
stage of a training-data pipeline: pull every URL out of the text,
reduce it to its registrable host, roll corpus statistics up per domain
and flag documents that cite blocklisted hosts.

Same engine-parity contract as ``functions.pii``: the URL pattern stays
in the Java-regex/RE2 common subset (character classes + bounded
constructs, no backreferences or lookaround), so extraction runs as
JVM ``regexp_extract_all`` at whole-stage-codegen speed with zero
Python, and the DuckDB oracle extracts the identical spans.

100 TB design: extraction is a pure per-row map; only (doc, domain)
pairs — never text — reach the per-domain aggregate, and a blocklist is
a broadcast hash join against a by-construction-tiny table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme + host; the capture group is the host (lowercased by callers).
# Path/query are irrelevant to domain statistics and stay unmatched —
# the host ends at the first character outside [A-Za-z0-9.-].
URL_HOST_RE = r"https?://([A-Za-z0-9.-]+)"


def url_hosts(col) -> Column:
    """array<string> of the (lowercased) host of every URL in the text,
    in document order; empty array when the text has no URLs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.regexp_extract_all(c, F.lit(URL_HOST_RE), F.lit(1)),
        F.lower)


def domain_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocklist: "tuple[str, ...]" = (),
) -> DataFrame:
    """Per-domain corpus statistics: (domain, n_docs, n_urls, blocked)
    — the dataset-card rollup URL filtering decides from.  ``n_docs``
    counts distinct citing documents, ``n_urls`` total occurrences;
    ``blocked`` marks blocklisted hosts (exact, case-insensitive).

    One explode of (id, host) pairs into one hash-aggregate; the
    blocklist comparison is an in-plan membership test over a literal
    array (a real deployment swaps in a broadcast-joined blocklist
    table — same plan shape)."""
    hosts = docs.select(
        F.col(id_col),
        F.explode(url_hosts(text_col)).alias("domain"),
    )
    blocked = (
        F.array_contains(
            F.array(*[F.lit(b.lower()) for b in blocklist]), F.col("domain"))
        if blocklist else F.lit(False)
    )
    return (
        hosts.groupBy("domain")
        .agg(F.countDistinct(id_col).cast("long").alias("n_docs"),
             F.count(F.lit(1)).cast("long").alias("n_urls"))
        .withColumn("blocked", blocked)
    )


def flag_blocked_docs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocklist: "tuple[str, ...]" = (),
) -> DataFrame:
    """Document-level filter column: (id, n_urls, n_blocked_urls,
    keep) — ``keep`` is False when ANY cited host is blocklisted, the
    drop rule C4 applies.  Pure per-row map (the membership test runs
    inside a filter over the extracted host array): no shuffle, no
    join, embarrassingly parallel.  NULL text extracts to the EMPTY
    host array (not NULL), so ``keep`` is always a concrete boolean — a
    NULL-text doc is kept (0 URLs, 0 blocked), never silently dropped
    by a keep-based filter nor silently retained by its negation."""
    bl = F.array(*[F.lit(b.lower()) for b in blocklist])
    hosts = F.coalesce(url_hosts(text_col), F.array().cast("array<string>"))
    n_blocked = (
        F.size(F.filter(hosts, lambda h: F.array_contains(bl, h)))
        if blocklist else F.lit(0)
    )
    return docs.select(
        F.col(id_col),
        F.size(hosts).cast("long").alias("n_urls"),
        n_blocked.cast("long").alias("n_blocked_urls"),
        (n_blocked == 0).alias("keep") if blocklist
        else F.lit(True).alias("keep"),
    )
