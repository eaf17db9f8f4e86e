"""Vectorized UDFs + column expressions wrapping the deterministic core.

Only two things here run in Python workers (both Arrow-batched):
canonicalization (U1) and relevance scoring (U2).  Everything else —
host extraction, hashing, robots prefix matching, ordering — is a
JVM-side Catalyst expression, keeping the hot path inside whole-stage
codegen (SURVEY.md §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.relevance import REL_Q_PER_UNIT, score_q_batch
from ..core.urlcanon import canon_series


@F.pandas_udf(T.StringType())
def canon_udf(urls: pd.Series) -> pd.Series:
    """U1 — URL canonicalization (core.urlcanon rules, Arrow-batched)."""
    return canon_series(urls)


# Deterministic in fact; declared nondeterministic so Catalyst never
# copies it into a predicate it pushes below the projection that
# computes url_canon (see with_canon_and_relevance).
canon_udf = canon_udf.asNondeterministic()


@F.pandas_udf(T.LongType())
def relevance_q_udf(context: pd.Series) -> pd.Series:
    """U2 — integer hashed-BoW link-context relevance (core.relevance)."""
    return pd.Series(score_q_batch(context.tolist()))


def with_canon_and_relevance(
    df, url_col: str = "url", ctx_col: str = "context"
):
    """U1+U2 in ONE Arrow pass via two INDEPENDENT scalar pandas UDFs.

    Catalyst's ExtractPythonUDFs collapses independent same-eval-type
    Python UDFs in one projection into a single ArrowEvalPython node —
    one python worker per task, one Arrow round-trip evaluating both
    (plan-pinned in tests/test_plans.py), so there is no per-UDF
    spawn storm.  Crucially, unlike the mapInPandas fusion this
    replaces, ArrowEvalPython PRUNES: only (url, context) cross the
    socket and only (url_canon, relevance_q) come back, instead of the
    whole row echoed both ways.  The echo mattered beyond bandwidth:
    at the 60M-key design point one link batch put tens of MB in
    flight in BOTH directions of one worker socket, and Spark 4.1's
    single-threaded PythonRunner deadlocks when its pending-input
    write and the worker's blocked output write fill both kernel
    buffers simultaneously (task stuck in selector with Recv-Q 33 MB /
    Send-Q 4 MB, observed round 4).  Bounding per-task socket payload
    is also simply the right shape at 100 TB.

    ``canon_udf`` is declared nondeterministic, which keeps a filter on
    ``url_canon`` (the P4 scheme gate, ``operators.gates``) above this
    projection.  Catalyst only pushes a filter through a projection of
    deterministic expressions, and when it does, it substitutes the UDF
    for ``url_canon`` inside the pushed predicate: a second
    ArrowEvalPython node, so canon would run twice on every link and
    seed, with one more Arrow round trip and Python worker per task
    (tests/test_plans.py pins one node on the crawl's link and seed
    plans).  Filters on columns that exist before the canon pass belong
    below it, written there by the caller (``plans.round`` applies the
    gate's depth half to the fetched rows).
    Adds columns: url_canon:string, relevance_q:long.
    """
    return df.withColumns(
        {
            "url_canon": canon_udf(F.col(url_col)),
            "relevance_q": relevance_q_udf(F.col(ctx_col)),
        }
    )


# The literal twins of core/urlcanon.py's _HOST_RE / _PATH_RE — NOT
# parse_url: Spark's parse_url is java.net.URI-based and returns NULL
# for URLs the URI grammar rejects but the real web serves ('|', space,
# '{', backslash in a path).  canon_url's regex keeps such URLs and the
# oracle's host_of/path_of extract their components, so a parse_url
# NULL would route those rows to a NULL host (politeness lumps them
# into one group, the robots join misses) — a trace divergence on the
# first weird-but-real link.  The regex runs JVM-side (RLike/
# RegExpExtract, codegen) just like parse_url.
# Bracketed-IPv6 alternative first (twin of _HOST_RE): otherwise the
# plain branch stops at the ':' inside '[::1]' and extracts host '['.
_HOST_REGEX = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#]*@)?(\[[^\]/?#]*\]|[^/?#:]*)"
_PATH_REGEX = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"


def host_expr(url_canon: str | Column = "url_canon") -> Column:
    """P3 — host extraction, JVM-side; exact twin of urlcanon.host_of
    (NULL → NULL, non-URL → '', ':port' excluded from the capture)."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.regexp_extract(c, _HOST_REGEX, 1)


def path_expr(url_canon: str | Column = "url_canon") -> Column:
    """Path component for robots matching; exact twin of
    urlcanon.path_of (NULL → NULL, non-URL → '', empty path → '/')."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(
            c.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"),
            F.coalesce(
                F.nullif(F.regexp_extract(c, _PATH_REGEX, 1), F.lit("")),
                F.lit("/"),
            ),
        )
        .otherwise(F.lit(""))
    )


def url_hash_expr(url_canon: str | Column = "url_canon") -> Column:
    """P2 — physical-plane 64-bit hash (JVM xxhash64; partitioning/bloom
    only — nothing the oracle compares depends on this value)."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.xxhash64(c)


def relevance_expr(relevance_q: str | Column = "relevance_q") -> Column:
    """Display-only float view of the fixed-point relevance."""
    c = F.col(relevance_q) if isinstance(relevance_q, str) else relevance_q
    return c.cast("double") / F.lit(float(REL_Q_PER_UNIT))


def robots_allowed_expr(path_col: str = "path", rules_col: str = "rules") -> Column:
    """P5 — longest-prefix robots decision, fully JVM-side.

    Among rules whose prefix is a prefix of the URL path, the longest
    wins; ties on length go to the FIRST such rule in list order —
    aggregate() is a left fold and only a STRICTLY longer prefix
    replaces the accumulator, which is exactly the oracle's
    robots_allows loop (an array_max over (length, allow) structs
    would instead resolve equal-length duplicate prefixes to
    allow=true, diverging from the oracle on real-web rule lists that
    repeat a prefix with opposite flags).  No rules / no match / no
    robots row → allow.  A rule carrying no decision (allow NULL, the
    '?' shape robots_content_keys encodes) or no prefix does NOT
    participate in matching at all — without the `r.allow IS NOT NULL`
    guard a longer NULL-allow rule would capture the fold, erase a
    shorter disallow, and coalesce to allow, while the oracle's None
    is falsy (round-5 review finding; both twins now skip such rules,
    pinned in tests/test_core.py).  Higher-order array expressions —
    JVM-side, no Python workers.
    """
    return F.coalesce(
        F.expr(
            f"""
            aggregate(
              filter({rules_col},
                     r -> r.allow IS NOT NULL
                          AND startswith({path_col}, r.prefix)),
              struct(CAST(-1 AS INT) AS l, true AS allow),
              (acc, r) -> IF(length(r.prefix) > acc.l,
                             struct(length(r.prefix) AS l, r.allow AS allow),
                             acc)
            ).allow
            """
        ),
        F.lit(True),
    )


# The one frontier ordering spec, shared by every operator that ranks
# (SURVEY.md §7 hard part 1: single source of truth for the order key).
def order_cols() -> list[Column]:
    return [
        F.col("relevance_q").desc(),
        F.col("depth").asc(),
        F.col("discovery_time").asc(),
        F.col("discovery_seq").asc(),
    ]
