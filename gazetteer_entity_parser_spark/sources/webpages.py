"""Web-page table sources.

``BASELINE.json.input_hint`` fixes the corpus shape:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
At production scale this is an Iceberg table of Common-Crawl pages; in this
sandbox we synthesize it *deterministically* from the driver-generated
``documents`` parquet (TESTDATA.md) — same derivation is expressible in
DuckDB so driver correctness checks can cross-validate.

Invariant carried through the whole pipeline: ``text`` stays byte-identical
per ``url`` (input_hint), pinned by tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WEBPAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# fixed epoch so the synthesis is bit-deterministic (no wall clock)
_WARC_EPOCH = "2020-01-01 00:00:00"


def webpages_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic documents -> web-pages derivation (also expressible as
    ANSI SQL for the DuckDB oracle — see __spark_entry__.oracle_sql)."""
    return docs.select(
        F.concat(F.lit("https://example.org/"), F.col("source"), F.lit("/"), F.col("doc_id"))
        .alias("url"),
        (F.to_timestamp(F.lit(_WARC_EPOCH)) + F.make_interval(secs=F.col("doc_id")))
        .alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def read_table_or_parquet(spark: SparkSession, name_or_path: str) -> DataFrame:
    """Production entry: an Iceberg (or any catalog) table name, falling back
    to a parquet path. The Iceberg runtime jar is absent in this sandbox, so
    catalog reads are attempted and parquet is the graceful fallback."""
    try:
        return spark.read.table(name_or_path)
    except Exception:
        return spark.read.parquet(name_or_path)


_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
# the optional (?:[^/?#@]*@)? skips RFC-3986 userinfo (user:pass@) so host
# extraction doesn't stop at the credential colon; credentials are DROPPED
# from the canonical form (the standard move for a dedupe key — two crawls
# of the same resource under different credentials are the same page).
# Hosts may be bracketed IPv6 literals (the bracket alternative comes
# first so '[2001:db8::1]' isn't chopped at its first colon). The port
# must be FOLLOWED by a path/query/fragment/end — '(?:[/?#]|$)' is the
# RE2-compatible way to say it (no lookahead in RE2): without it, a
# digits-only password like user:8080@host backtracks into a phantom
# port.
_AUTH = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?"
_HOST_RE = _AUTH + r"(\[[^\]/?#]*\]|[^/?#:@]*)"
_PORT_RE = _AUTH + r"(?:\[[^\]/?#]*\]|[^/?#:@]*):([0-9]+)(?:[/?#]|$)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
# anchored to the pre-fragment region: a '?' INSIDE the fragment must not
# resurrect fragment content as a query string
_QUERY_RE = r"^[^#]*?\?([^#]*)"


# RFC-3986 unreserved characters: percent-escapes of these are semantically
# identical to the bare character, so a canonicalizer must decode them
# ('%7E' vs '~' recrawl variants are the same page). Everything else stays
# encoded — decoding reserved escapes (%2F, %3F, %26...) would CHANGE the
# URL's structure.
_UNRESERVED_CODES = tuple(
    [f"{b:02X}" for b in range(0x30, 0x3A)]  # 0-9
    + [f"{b:02X}" for b in range(0x41, 0x5B)]  # A-Z
    + [f"{b:02X}" for b in range(0x61, 0x7B)]  # a-z
    + ["2D", "2E", "5F", "7E"]  # - . _ ~
)


def percent_normalize_steps() -> list[tuple[str, str]]:
    """(pattern, replacement) chain shared by the Spark expression and the
    DuckDB oracle SQL (replacement backrefs use Spark's ``$1``; the SQL
    renderer swaps them to RE2's ``\\1``). Order matters: first uppercase
    every escape's hex digits (two passes — first digit, then second — so
    '%ab' -> '%Ab' -> '%AB'), then decode unreserved escapes with
    single-case patterns. '%25' (the escape char itself) is reserved and
    stays encoded, so decoding cannot cascade."""
    steps = []
    for d in "abcdef":
        steps.append((f"%{d}([0-9A-Fa-f])", f"%{d.upper()}$1"))
    for d in "abcdef":
        steps.append((f"%([0-9A-F]){d}", f"%$1{d.upper()}"))
    for code in _UNRESERVED_CODES:
        steps.append((f"%{code}", chr(int(code, 16))))
    return steps


def percent_normalize(col) -> "F.Column":
    """Percent-encoding normalization (safe on the WHOLE url, pre-parse:
    unreserved characters are never delimiters, so decoding them cannot
    move a component boundary; reserved escapes only get their hex
    uppercased)."""
    for pat, rep in percent_normalize_steps():
        col = F.regexp_replace(col, pat, rep)
    return col


def canonical_url(url, sort_query: bool = False) -> "F.Column":
    """Canonical form of a crawled URL — the standard web-corpus dedupe key:
    lowercase scheme and host, drop default ports (http:80 / https:443),
    drop the fragment, strip ``utm_*`` tracking params (other params kept),
    normalize percent-encoding (decode unreserved escapes, uppercase the
    remaining hex — see :func:`percent_normalize_steps`), and trim trailing
    slashes from the path ('' path renders as '/'). ``sort_query=True``
    additionally sorts the surviving query params bytewise so recrawl
    variants differing only in param ORDER collapse (opt-in: param order
    can be semantic for some endpoints, so the default preserves it).
    Pure regexp/array built-ins, whole-stage codegen, and every regexp is
    dialect-portable so the DuckDB oracle applies the identical
    transformation."""
    url = F.col(url) if isinstance(url, str) else url
    norm = percent_normalize(url)
    scheme = F.lower(F.regexp_extract(norm, _SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(norm, _HOST_RE, 1))
    port = F.regexp_extract(norm, _PORT_RE, 1)
    path = F.regexp_extract(norm, _PATH_RE, 1)
    query = F.regexp_extract(norm, _QUERY_RE, 1)
    keep_port = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    kept_params = F.filter(
        F.split(query, "&"),
        lambda p: (~p.startswith("utm_")) & (p != ""),
    )
    if sort_query:
        kept_params = F.array_sort(kept_params)
    clean_q = F.array_join(kept_params, "&")
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        keep_port,
        path,
        F.when(clean_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), clean_q)),
    )
    # non-URL inputs (relative paths, mailto:, garbage manifest lines) pass
    # through unchanged — collapsing them all onto ':///' would falsely
    # dedupe unrelated records
    return F.when(scheme == "", url).otherwise(canon)
