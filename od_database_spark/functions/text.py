"""Small scalar parity utilities (SURVEY.md §2.8 X3/X7) + query-log append
(S8 SearchLogEntry analog, init_script.sql:28-39 / database.py:302-313)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema


def _leading_dir_len(s: str) -> int | None:
    """Length of the next collapsed chunk at the head of ``s`` — an exact
    segment model of one non-overlapping match of the reference's lazy
    ``/?.*?/`` pattern (od_util.py:20-27):

    - head '/' with another '/' later: through that next '/' (so '//' at the
      head is one two-char chunk with an EMPTY segment — not skipped);
    - head '/' with no later '/': just the lone '/' (the '/?' backtracks);
    - otherwise: through the first '/'; None when no '/' remains.
    """
    if not s:
        return None
    if s[0] == "/":
        j = s.find("/", 1)
        return j + 1 if j != -1 else 1
    j = s.find("/")
    return j + 1 if j != -1 else None


def truncate_path(path: str, max_len: int) -> str:
    """X3 semantics (od_util.py:20-27): collapse the first i leading
    directory chunks into '.../' each, for the smallest i whose result fits
    max_len; when nothing fits, '.../'+basename; paths without '/' come back
    unchanged.  Chunking follows the reference's regex exactly (see
    _leading_dir_len) — empty segments from '//' runs collapse one chunk per
    match, and a multi-leading-slash head folds into the FIRST chunk only."""
    if "/" not in path:
        return path
    for i in range(1, path.count("/")):
        pos, collapsed = 0, 0
        while collapsed < i:
            step = _leading_dir_len(path[pos:])
            if step is None:
                break
            pos += step
            collapsed += 1
        candidate = ".../" * collapsed + path[pos:]
        if len(candidate) < max_len:
            return candidate
    return ".../" + path.rsplit("/", maxsplit=1)[1]


def format_duration_col(seconds: Column) -> Column:
    """X7 (template_filters.py:22-35): humanized duration."""
    return (
        F.when(seconds < 60, F.concat(seconds.cast("long"), F.lit("s")))
        .when(seconds < 3600, F.concat(F.floor(seconds / 60).cast("long"), F.lit("m")))
        .when(seconds < 86400, F.concat(F.floor(seconds / 3600).cast("long"), F.lit("h")))
        .otherwise(F.concat(F.floor(seconds / 86400).cast("long"), F.lit("d")))
    )


def log_search(
    spark: SparkSession,
    remote_addr: str,
    forwarded_for: str | None,
    q: str,
    extensions: list[str],
    page: int,
    blocked: bool,
    results: int,
    took_ms: int,
) -> DataFrame:
    """One append-ready query_log row (database.py:302-313: extensions are
    comma-joined).  Caller unions/appends it to the query_log table."""
    return spark.createDataFrame(
        [
            (
                None,
                remote_addr,
                forwarded_for,
                q,
                ",".join(extensions),
                page,
                blocked,
                results,
                took_ms,
            )
        ],
        schema.QUERY_LOG,
    ).withColumn("search_time", F.current_timestamp())
