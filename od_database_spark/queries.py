"""Query/stats operator registry: every SQL-expressible operator from
SURVEY.md §2 re-expressed over the driver's testdata star schema, each with a
DuckDB oracle (driver contract, __spark_entry__.py).

Mapping notes — the reference's operators run over its `files` index
(ext/size/mtime/website_id); the driver's DuckDB views only cover the
testdata tables, so each operator KEEPS ITS SHAPE but runs on the analog
column set (documents.lang ≈ ext keyword; events.value ≈ size; orders dates ≈
mtime; o_custkey ≈ website_id).  The same operators run over the real crawl
tables in the pytest layer.

Determinism rules applied to every query:
- total order: every ORDER BY ends with a unique key tiebreak
- money-style sums: exact DECIMAL(18,2) accumulation, cast to double after
- float aggregates: rounded to 4 decimals on BOTH engines
- timestamps: compared as epoch seconds (session TZ pinned UTC)
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec_sum(col):  # exact cross-engine sum for money-ish doubles
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


BLOCKED_TERMS = ("spark", "vector")  # F10 analog blocklist

# minhash constants (shared literally with the SQL below)
MH_P = 2147483647
MH_N = 8
MH_A = [2 * j + 3 for j in range(MH_N)]
MH_B = [5 * j + 7 for j in range(MH_N)]

# Embedding-LSH geometry: ANN_BANDS independent hash tables of ANN_ROWS
# sign-bit hyperplanes each (b bands × r rows).  Bucket count = bands × 2^rows
# GROWS WITH THE PARAMETERS — at 10^10 vectors you raise rows (and bands for
# recall) so in-bucket candidate work stays bounded; a single fixed table
# cannot do that.  Plane weights are md5-derived small ints so the same
# literals embed in both engines (and no two planes repeat, unlike a linear
# congruential formula whose planes cycle mod 7).
ANN_BANDS = 4
ANN_ROWS = 6
ANN_DIM = 64


def ann_planes(bands: int = ANN_BANDS, rows: int = ANN_ROWS, dim: int = ANN_DIM):
    def w(b, r, j):
        h = int(hashlib.md5(f"plane:{b}:{r}:{j}".encode()).hexdigest()[:8], 16)
        return (h % 7) - 3

    return [[[w(b, r, j) for j in range(dim)] for r in range(rows)] for b in range(bands)]


ANN_TABLES = ann_planes()


# ---------------------------------------------------------------------------
# §2.4 aggregations (A1-A8)


def q_ext_breakdown(spark, sf_dir):
    """A1/A4: terms agg + per-bucket sum, top-k buckets by doc_count
    (search/search.py:255-273,318-345)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("total_chars"))
        .orderBy(F.desc("cnt"), F.asc("lang"))
        .limit(12)
    )


SQL_EXT_BREAKDOWN = """
SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY cnt DESC, lang LIMIT 12
"""


def q_global_totals(spark, sf_dir):
    """A2/A3 + F5 sanity clamp (search/search.py:318-327)."""
    e = t(spark, sf_dir, "events")
    return (
        e.filter((F.col("value") >= 0) & (F.col("value") < 1e12))
        .agg(F.count("*").alias("cnt"), F.round(_dec_sum("value"), 2).alias("total"))
    )


SQL_GLOBAL_TOTALS = """
SELECT CAST(count(*) AS BIGINT) AS cnt,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events WHERE value >= 0 AND value < 1e12
"""


def q_extended_stats(spark, sf_dir):
    """A5: extended_stats on size with sigma=1 bounds
    (search/search.py:347-367,441-446)."""
    e = t(spark, sf_dir, "events").filter((F.col("value") >= 0) & (F.col("value") < 1e12))
    agg = e.agg(
        F.count("*").alias("cnt"),
        F.round(_dec_sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 4).alias("avg_v"),
        F.round(F.stddev_pop("value"), 4).alias("std_v"),
        F.round(F.var_pop("value"), 4).alias("var_v"),
    )
    return agg.select(
        "cnt", "total", "avg_v", "std_v", "var_v",
        F.round(F.col("avg_v") + F.col("std_v"), 4).alias("upper_1sig"),
        F.round(F.col("avg_v") - F.col("std_v"), 4).alias("lower_1sig"),
    )


SQL_EXTENDED_STATS = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         ROUND(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
         ROUND(avg(value), 4) AS avg_v,
         ROUND(stddev_pop(value), 4) AS std_v,
         ROUND(var_pop(value), 4) AS var_v
  FROM events WHERE value >= 0 AND value < 1e12)
SELECT cnt, total, avg_v, std_v, var_v,
       ROUND(avg_v + std_v, 4) AS upper_1sig,
       ROUND(avg_v - std_v, 4) AS lower_1sig
FROM s
"""


def q_size_histogram(spark, sf_dir):
    """A6: fixed-interval histogram with min_doc_count
    (search/search.py:385-391; interval scaled to the value domain)."""
    e = t(spark, sf_dir, "events")
    return (
        e.filter((F.col("value") >= 0) & (F.col("value") < 1e12))
        .groupBy((F.floor(F.col("value") / 25) * 25).cast("long").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
        .orderBy("bucket")
    )


SQL_SIZE_HISTOGRAM = """
SELECT CAST(floor(value / 25) * 25 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM events WHERE value >= 0 AND value < 1e12
GROUP BY 1 HAVING count(*) >= 5 ORDER BY bucket
"""


def q_date_histogram(spark, sf_dir):
    """A7: calendar-year date histogram with min_doc_count
    (search/search.py:392-399)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
        .orderBy("yr")
    )


SQL_DATE_HISTOGRAM = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(count(*) AS BIGINT) AS cnt
FROM orders GROUP BY 1 HAVING count(*) >= 5 ORDER BY yr
"""


def q_website_scatter(spark, sf_dir):
    """A8: per-website doc_count + size sum, top 600
    (search/search.py:404-430)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"), F.round(_dec_sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.desc("cnt"), F.asc("o_custkey"))
        .limit(600)
    )


SQL_WEBSITE_SCATTER = """
SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM orders GROUP BY o_custkey ORDER BY cnt DESC, o_custkey LIMIT 600
"""


# ---------------------------------------------------------------------------
# §2.2 filters + §2.5 pagination (F1-F5, O1-O5)


def q_filtered_search(spark, sf_dir):
    """F2 (terms) + F3 (size range) + F4 (date range) + O2 (offset pagination
    over a deterministic sort; search/search.py:191-241).  (l_orderkey,
    l_linenumber) is not unique in the generated tables, so l_quantity and
    the ship date break its ties: rows still tied agree on every output
    column, and the page is the same on any partitioning."""
    li = t(spark, sf_dir, "lineitem")
    filtered = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10, 40)
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") <= "1999-12-31")
    )
    w = Window.orderBy(
        F.asc("l_orderkey"), F.asc("l_linenumber"), F.asc("l_quantity"), F.asc("ship_epoch")
    )
    return (
        filtered.select(
            "l_orderkey", "l_linenumber", "l_quantity",
            F.unix_timestamp("l_shipdate").alias("ship_epoch"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(101, 150))
        .drop("rn")
    )


SQL_FILTERED_SEARCH = """
WITH f AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         CAST(epoch(l_shipdate) AS BIGINT) AS ship_epoch,
         row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate) AS rn
  FROM lineitem
  WHERE l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 40
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1999-12-31')
SELECT l_orderkey, l_linenumber, l_quantity, ship_epoch
FROM f WHERE rn BETWEEN 101 AND 150
"""


def q_listing_page(spark, sf_dir):
    """O3: ORDER BY last_modified DESC LIMIT/OFFSET listing
    (database.py:107-116)."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(51, 100))
        .select(
            "o_orderkey", "o_custkey",
            F.unix_timestamp("o_orderdate").alias("date_epoch"),
        )
    )


SQL_LISTING_PAGE = """
WITH f AS (
  SELECT o_orderkey, o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS date_epoch,
         row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey) AS rn
  FROM orders)
SELECT o_orderkey, o_custkey, date_epoch FROM f WHERE rn BETWEEN 51 AND 100
"""


def q_recrawl_pool(spark, sf_dir):
    """O4 + C4: oldest-first pool with staleness-hours priority
    (database.py:315-330, tasks.py:140-143; 'now' pinned for determinism)."""
    now_epoch = 1009843200  # 2002-01-01, just past the data's max date
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("date_epoch"),
            F.floor((F.lit(now_epoch) - F.unix_timestamp("o_orderdate")) / 3600)
            .cast("int")
            .alias("priority"),
        )
        .orderBy(F.asc("date_epoch"), F.asc("o_orderkey"))
        .limit(100)
    )


SQL_RECRAWL_POOL = """
SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS date_epoch,
       CAST(floor((1009843200 - epoch(o_orderdate)) / 3600) AS INT) AS priority
FROM orders ORDER BY date_epoch, o_orderkey LIMIT 100
"""


def q_random_row(spark, sf_dir):
    """O5: ORDER BY random() LIMIT 1 (database.py:118-127) — derandomized via
    a shared hash so both engines pick the same row."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey")
        .orderBy(F.md5(F.col("o_orderkey").cast("string")), F.asc("o_orderkey"))
        .limit(1)
    )


SQL_RANDOM_ROW = """
SELECT o_orderkey, o_custkey FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 1
"""


# ---------------------------------------------------------------------------
# §2.3 joins (J1, J4)


def q_join_deleted_default(spark, sf_dir):
    """J1: broadcast left join to the websites dim with '[DELETED]' default
    (database.py:235-245) — dim rows are dropped to force the default path."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 != 0)
    joined = o.join(F.broadcast(c), on=o["o_custkey"] == c["c_custkey"], how="left")
    return (
        joined.select(
            "o_orderkey",
            F.coalesce(F.col("c_name"), F.lit("[DELETED]")).alias("owner"),
        )
        .orderBy(F.asc("o_orderkey"))
        .limit(200)
    )


SQL_JOIN_DELETED_DEFAULT = """
SELECT o_orderkey, COALESCE(c_name, '[DELETED]') AS owner
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 <> 0) c
  ON o_custkey = c_custkey
ORDER BY o_orderkey LIMIT 200
"""


def q_prefix_semi_join(spark, sf_dir):
    """J4/F7: parent-prefix membership as explode + semi-join — the equi-ized
    form of `url = substr(%s, 0, length(url)+1)` (database.py:129-136).
    Paths are synthesized from part attributes; roots are the 2-segment
    prefixes of every 10th part."""
    p = t(spark, sf_dir, "part")
    paths = p.select(
        "p_partkey",
        F.concat(
            F.lower("p_type"), F.lit("/"), F.regexp_replace("p_name", " ", "/"), F.lit("/")
        ).alias("path"),
    )
    segs = F.filter(F.split(F.col("path"), "/"), lambda s: s != "")
    # cumulative fold builds all prefixes in O(depth) concats per row
    # (identical strings to the former O(depth²) slice+array_join transform
    # — measured ~35% faster on the exploded stage at sf1.0, r6)
    with_prefixes = paths.withColumn(
        "prefixes",
        F.aggregate(
            segs,
            F.struct(
                F.lit("").alias("cur"), F.array().cast("array<string>").alias("out")
            ),
            lambda acc, s: F.struct(
                F.concat(acc["cur"], s, F.lit("/")).alias("cur"),
                F.array_append(
                    acc["out"], F.concat(acc["cur"], s, F.lit("/"))
                ).alias("out"),
            ),
        )["out"],
    )
    roots = (
        paths.filter(F.col("p_partkey") % 100 == 0)
        .select(
            F.concat(
                F.array_join(
                    F.slice(F.filter(F.split(F.col("path"), "/"), lambda s: s != ""), 1, 2), "/"
                ),
                F.lit("/"),
            ).alias("root")
        )
        .distinct()
    )
    hit = (
        with_prefixes.select("p_partkey", F.explode("prefixes").alias("root"))
        .join(roots, on="root", how="left_semi")
        .select("p_partkey")
        .distinct()
    )
    accepted = paths.join(hit, on="p_partkey", how="left_anti")
    return (
        accepted.groupBy(F.split_part(F.col("path"), F.lit("/"), F.lit(1)).alias("seg1"))
        .agg(F.count("*").alias("accepted_cnt"))
        .orderBy("seg1")
    )


SQL_PREFIX_SEMI_JOIN = """
WITH paths AS (
  SELECT p_partkey,
         lower(p_type) || '/' || replace(p_name, ' ', '/') || '/' AS path
  FROM part),
roots AS (
  SELECT DISTINCT array_to_string(list_slice(list_filter(string_split(path,'/'), s -> s <> ''), 1, 2), '/') || '/' AS root
  FROM paths WHERE p_partkey % 100 = 0),
pref AS (
  SELECT p_partkey, unnest(list_transform(
           range(1, len(list_filter(string_split(path,'/'), s -> s <> '')) + 1),
           i -> array_to_string(list_slice(list_filter(string_split(path,'/'), s -> s <> ''), 1, i), '/') || '/')) AS root
  FROM paths),
hit AS (SELECT DISTINCT p_partkey FROM pref WHERE root IN (SELECT root FROM roots))
SELECT string_split(path, '/')[1] AS seg1, CAST(count(*) AS BIGINT) AS accepted_cnt
FROM paths WHERE p_partkey NOT IN (SELECT p_partkey FROM hit)
GROUP BY 1 ORDER BY seg1
"""


# ---------------------------------------------------------------------------
# §2.6 full-text search (Q1-Q5 analogs)


def q_multi_match(spark, sf_dir):
    """Q2: multi-token match with AND vs OR operator
    (search/search.py:219-231, views.py:183)."""
    d = t(spark, sf_dir, "documents")
    toks = ["spark", "join", "fast"]
    words = F.split(F.col("text"), " ")
    has = [F.array_contains(words, tk) for tk in toks]
    and_m = has[0] & has[1] & has[2]
    or_m = has[0] | has[1] | has[2]
    return (
        d.groupBy("lang")
        .agg(
            F.sum(and_m.cast("long")).alias("and_matches"),
            F.sum(or_m.cast("long")).alias("or_matches"),
        )
        .orderBy("lang")
    )


SQL_MULTI_MATCH = """
SELECT lang,
  CAST(sum(CASE WHEN list_contains(string_split(text,' '), 'spark')
             AND list_contains(string_split(text,' '), 'join')
             AND list_contains(string_split(text,' '), 'fast') THEN 1 ELSE 0 END) AS BIGINT) AS and_matches,
  CAST(sum(CASE WHEN list_contains(string_split(text,' '), 'spark')
              OR list_contains(string_split(text,' '), 'join')
              OR list_contains(string_split(text,' '), 'fast') THEN 1 ELSE 0 END) AS BIGINT) AS or_matches
FROM documents GROUP BY lang ORDER BY lang
"""


def q_trigram_rank(spark, sf_dir):
    """Q1/Q3: trigram relevance — score = 5*whole-token hit + 2*(# query
    trigrams contained) (boosts views.py:197-199, analyzer
    search/search.py:59-71)."""
    p = t(spark, sf_dir, "part")
    q = "widget"
    tris = [q[i : i + 3] for i in range(len(q) - 2)]
    name = F.lower(F.col("p_name"))
    tri_score = sum(F.when(name.contains(tg), 1).otherwise(0) for tg in tris)
    tok_hit = F.array_contains(F.split(name, " "), q).cast("int")
    return (
        p.select(
            "p_partkey",
            (F.lit(5) * tok_hit + F.lit(2) * tri_score).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("p_partkey"))
        .limit(50)
    )


def _sql_trigram_rank() -> str:
    q = "widget"
    tris = [q[i : i + 3] for i in range(len(q) - 2)]
    tri_sum = " + ".join(
        f"(CASE WHEN contains(lower(p_name), '{tg}') THEN 1 ELSE 0 END)" for tg in tris
    )
    return f"""
SELECT p_partkey,
       (5 * (CASE WHEN list_contains(string_split(lower(p_name),' '), '{q}') THEN 1 ELSE 0 END)
        + 2 * ({tri_sum})) AS score
FROM part
WHERE (5 * (CASE WHEN list_contains(string_split(lower(p_name),' '), '{q}') THEN 1 ELSE 0 END)
        + 2 * ({tri_sum})) > 0
ORDER BY score DESC, p_partkey LIMIT 50
"""


def q_highlight(spark, sf_dir):
    """Q4: <mark>-wrap matched terms (search/search.py:233-239)."""
    p = t(spark, sf_dir, "part")
    return (
        p.filter(F.lower(F.col("p_name")).contains("wid"))
        .select(
            "p_partkey",
            F.regexp_replace("p_name", r"(?i)(wid)", "<mark>$1</mark>").alias("marked"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


SQL_HIGHLIGHT = r"""
SELECT p_partkey, regexp_replace(p_name, '(?i)(wid)', '<mark>\1</mark>', 'g') AS marked
FROM part WHERE contains(lower(p_name), 'wid') ORDER BY p_partkey LIMIT 100
"""


def q_blocklist(spark, sf_dir):
    """F10/Q5: FULL ascii-fold + lower + token-in-blocklist gate
    (search/filter.py:20-31; fold table = functions/fold.py, the Lucene-style
    fold the reference's fold_to_ascii submodule implements) over document
    texts."""
    from .functions.fold import fold_ascii_col

    d = t(spark, sf_dir, "documents")
    words = F.split(F.lower(fold_ascii_col(F.col("text"))), " ")
    blocked = F.arrays_overlap(words, F.array(*[F.lit(b) for b in BLOCKED_TERMS]))
    return (
        d.groupBy("lang")
        .agg(
            F.sum(blocked.cast("long")).alias("blocked_cnt"),
            F.count("*").alias("total_cnt"),
        )
        .orderBy("lang")
    )


def _sql_blocklist() -> str:
    from .functions.fold import fold_ascii_sql

    return f"""
SELECT lang,
  CAST(sum(CASE WHEN len(list_intersect(
        string_split(lower({fold_ascii_sql('text')}), ' '),
        ['spark','vector'])) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS blocked_cnt,
  CAST(count(*) AS BIGINT) AS total_cnt
FROM documents GROUP BY lang ORDER BY lang
"""


def q_ascii_fold(spark, sf_dir):
    """X2 exercised cross-engine on NON-LATIN-1 input: deterministically
    inject accents (incl. Latin-Extended ø/đ/ł and the multi-char ß) into
    document text, apply the full fold, and return the folded heads.  The
    injection uses the same translate on both engines, so the oracle match
    proves the whole fold TABLE, not just the accents the data happens to
    contain."""
    from .functions.fold import fold_ascii_col

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    accented = F.translate(F.col("text"), "aeiouncdls", "áëîøüñçđłß")
    folded = fold_ascii_col(accented)
    return d.select(
        "doc_id",
        F.substring(folded, 1, 80).alias("folded_head"),
        F.length(folded).alias("folded_len"),
    ).orderBy("doc_id")


def _sql_ascii_fold() -> str:
    from .functions.fold import fold_ascii_sql

    inner = "translate(text, 'aeiouncdls', 'áëîøüñçđłß')"
    return f"""
SELECT doc_id, substr({fold_ascii_sql(inner)}, 1, 80) AS folded_head,
       CAST(length({fold_ascii_sql(inner)}) AS INT) AS folded_len
FROM documents WHERE doc_id < 150 ORDER BY doc_id
"""


def q_index_meta_stats(spark, sf_dir):
    """A9: index meta-stats (doc count, store size, query count, avg latency,
    blocked rate — search/search.py:432-439) through the library operator;
    documents stand in for the files index and events for the query_log
    (took_ms = value, blocked = a deterministic id predicate)."""
    from .operators.search import index_meta_stats

    d = t(spark, sf_dir, "documents").select(F.col("n_chars").alias("size"))
    ql = t(spark, sf_dir, "events").select(
        F.col("value").alias("took_ms"),
        (F.col("event_id") % 13 == 0).alias("blocked"),
    )
    return index_meta_stats(d, ql)


SQL_INDEX_META_STATS = """
WITH idx AS (
  SELECT CAST(count(*) AS BIGINT) AS doc_count,
         CAST(sum(n_chars) AS BIGINT) AS store_bytes
  FROM documents),
ql AS (
  SELECT CAST(count(*) AS BIGINT) AS query_count,
         ROUND(avg(value), 4) AS avg_took_ms,
         ROUND(avg(CASE WHEN event_id % 13 = 0 THEN 1.0 ELSE 0.0 END), 4) AS blocked_rate
  FROM events)
SELECT doc_count, store_bytes, query_count, avg_took_ms, blocked_rate
FROM idx CROSS JOIN ql
"""


def q_stats_snapshot(spark, sf_dir):
    """The stats MATERIALIZATION job (search/search.py:42-45,307-314): the
    reference regenerates its global aggregations on a 120-min scheduler and
    serves a file cache; here sources/statsstore.py runs the A4-A8 frames
    once, commits them as an immutable snapshot version behind an atomic
    pointer (the dimstore protocol — a concurrent reader sees old-or-new,
    never half), and the query serves the ext breakdown FROM THE SNAPSHOT —
    the fact table is not touched on the read path."""
    import hashlib as _h

    from .sources import statsstore

    files = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("website_id"),
        F.col("event_type").alias("ext"),
        F.floor(F.col("value") * 1000).cast("long").alias("size"),
        F.col("ts").alias("mtime"),
    )
    path = f"/tmp/oddb_stats_{_h.md5(sf_dir.encode()).hexdigest()[:10]}"
    statsstore.materialize_stats(files, path)
    snap = statsstore.read_stats(spark, path)
    return snap["ext_stats"].orderBy(F.desc("doc_count"), F.asc("ext"))


SQL_STATS_SNAPSHOT = """
SELECT event_type AS ext, CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS size_sum
FROM events
WHERE floor(value * 1000) >= 0 AND floor(value * 1000) < 1000000000000
GROUP BY 1 ORDER BY doc_count DESC, ext LIMIT 40
"""


# ---------------------------------------------------------------------------
# training-data operators: dedup / quality / similarity


def q_dedup_exact(spark, sf_dir):
    """Exact near-head dedup: hash-groupBy on a content fingerprint, keeper =
    min doc_id (standard exact-dedup shape for web corpora)."""
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.substring(F.col("text"), 1, 40))
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(F.count("*").alias("copies"), F.min("doc_id").alias("keeper"))
        .filter(F.col("copies") > 1)
        .orderBy(F.desc("copies"), F.asc("keeper"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(substr(text, 1, 40)) AS fingerprint,
       CAST(count(*) AS BIGINT) AS copies, min(doc_id) AS keeper
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY copies DESC, keeper
"""


def q_text_quality(spark, sf_dir):
    """Quality scoring: token count, mean word length, long-doc share per
    lang — the length/ratio heuristics of a training-data pipeline."""
    d = t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    n_tok = F.size(words)
    scored = d.select(
        "lang",
        n_tok.alias("n_tok"),
        (F.col("n_chars") / n_tok).alias("chars_per_tok"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.round(F.avg("chars_per_tok"), 4).alias("avg_cpt"),
            F.sum((F.col("n_tok") > 50).cast("long")).alias("long_docs"),
        )
        .orderBy("lang")
    )


SQL_TEXT_QUALITY = """
WITH s AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
         CAST(n_chars AS DOUBLE) / len(list_filter(string_split(text, ' '), w -> w <> '')) AS chars_per_tok
  FROM documents)
SELECT lang, ROUND(avg(n_tok), 4) AS avg_tokens, ROUND(avg(chars_per_tok), 4) AS avg_cpt,
       CAST(sum(CASE WHEN n_tok > 50 THEN 1 ELSE 0 END) AS BIGINT) AS long_docs
FROM s GROUP BY lang ORDER BY lang
"""


QUALITY_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")


def q_quality_flags(spark, sf_dir):
    """Per-document quality flags (training-data pipeline gate): punctuation
    ratio, alphabetic ratio, stopword ratio, and the keep decision a
    filtering pipeline applies — all native string expressions."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    n = F.length("text").cast("double")
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("double")
    alpha = F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("double")
    stop = F.size(F.filter(words, lambda w: w.isin(*QUALITY_STOPWORDS))).cast("double")
    punct_ratio = F.round(punct / F.nullif(n, F.lit(0.0)), 4)
    alpha_ratio = F.round(alpha / F.nullif(n, F.lit(0.0)), 4)
    stop_ratio = F.round(stop / F.nullif(n_words, F.lit(0.0)), 4)
    keep = (alpha_ratio >= 0.6) & (punct_ratio <= 0.1) & (n_words >= 5)
    return (
        d.select(
            "doc_id",
            punct_ratio.alias("punct_ratio"),
            alpha_ratio.alias("alpha_ratio"),
            stop_ratio.alias("stop_ratio"),
            keep.alias("keep"),
        )
        .orderBy("doc_id")
    )


def _sql_quality_flags() -> str:
    stop_list = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS DOUBLE) AS n_words,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              w -> list_contains([{stop_list}], w))) AS DOUBLE) AS stop
  FROM documents WHERE doc_id < 200),
r AS (
  SELECT doc_id,
         ROUND(punct / NULLIF(n, 0.0), 4) AS punct_ratio,
         ROUND(alpha / NULLIF(n, 0.0), 4) AS alpha_ratio,
         ROUND(stop / NULLIF(n_words, 0.0), 4) AS stop_ratio,
         n_words
  FROM s)
SELECT doc_id, punct_ratio, alpha_ratio, stop_ratio,
       (alpha_ratio >= 0.6 AND punct_ratio <= 0.1 AND n_words >= 5) AS keep
FROM r ORDER BY doc_id
"""


# character-trigram profiles for the lang-ID heuristic (deterministic; the
# standard n-gram-profile method, tiny profile per language)
LANG_PROFILES = {
    "en": ["the", "ing", " a "],
    "es": ["que", "ión", " de"],
    "de": ["der", "sch", "ein"],
    "fr": ["les", "ent", " le"],
    "zh": ["zh ", " zh", "ang"],
}


def q_lang_id(spark, sf_dir):
    """Language-ID via character-n-gram profile scoring: count occurrences of
    each language's characteristic trigrams, pick the argmax (alphabetical
    tie-break, 'xx' when nothing matches); output is the confusion table vs
    the labeled lang."""
    d = t(spark, sf_dir, "documents")

    def occurrences(tg: str):
        # F.replace is LITERAL (matches DuckDB's replace); regexp_replace
        # would treat the trigram as a pattern.  (r6 note: regexp_count was
        # A/B'd here and is NOT faster — per-call regex overhead matches the
        # three length/replace string passes at sf1.0, 2.2s both ways.)
        return (
            F.length(F.col("text"))
            - F.length(F.replace(F.col("text"), F.lit(tg), F.lit("")))
        ) / len(tg)

    scores = {
        lang: sum((occurrences(tg) for tg in tgs), F.lit(0.0))
        for lang, tgs in LANG_PROFILES.items()
    }
    langs = sorted(LANG_PROFILES)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(best <= 0, F.lit("xx"))
    for lang in langs:  # alphabetical order = deterministic tie-break
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return (
        d.select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "pred")
    )


def _sql_lang_id() -> str:
    def occ(tg: str) -> str:
        esc = tg.replace("'", "''")
        return f"((length(text) - length(replace(text, '{esc}', ''))) / {len(tg)}.0)"

    langs = sorted(LANG_PROFILES)
    score = {
        lang: " + ".join(occ(tg) for tg in LANG_PROFILES[lang]) for lang in langs
    }
    best = "greatest(" + ", ".join(f"({score[lang]})" for lang in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'xx' "
    for lang in langs:
        case += f"WHEN ({score[lang]}) = {best} THEN '{lang}' "
    case += "END"
    return f"""
WITH s AS (SELECT lang, {case} AS pred FROM documents)
SELECT lang, pred, CAST(count(*) AS BIGINT) AS cnt
FROM s GROUP BY lang, pred ORDER BY lang, pred
"""


SQL_LANG_ID = _sql_lang_id()


def _text_shingles():
    """Word-3-gram shingle array over ``text`` — THE single source for every
    text-shingle consumer (minhash bands, the persisted shingle index, the
    inline fallback), so the store and no-store paths can never diverge.
    Guarded: F.sequence(1, 0) DESCENDS instead of yielding an empty array
    and slice(start=0) throws, so a <3-word document must short-circuit to
    zero shingles, not fail the job."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    return F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _minhash_bands(d: DataFrame) -> DataFrame:
    """MinHash band-bucket rows (doc_id, bucket): word-3-gram shingles →
    MH_N minhashes (md5-derived, engine-portable) → MH_N/2 bands of 2.
    This is the text-side LSH index build — ann_store persists it."""
    shingles = _text_shingles()
    # hash per OCCURRENCE, no vocab join: md5 is cheap and the alternative
    # (distinct vocabulary + join back) costs two extra shuffles of every
    # occurrence keyed by the shingle STRING.  Here the only shuffle is the
    # doc_id groupBy, whose map-side combiner collapses each partition's
    # occurrences to 8 mins per doc before the exchange.  (Measured 2x
    # faster than the vocab join at sf0.1; identical output.)
    ex = d.select("doc_id", F.explode(shingles).alias("shingle"))
    coded = ex.withColumn(
        "_h", F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("long")
    )
    sigs = coded.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MH_P)).alias(f"mh{j}")
            for j, (a, b) in enumerate(zip(MH_A, MH_B))
        ]
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(str(bb)), F.col(f"mh{2*bb}"), F.col(f"mh{2*bb+1}")
                    )
                    for bb in range(MH_N // 2)
                ]
            )
        ).alias("bucket"),
    )


def _candidates_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs sharing any band bucket.  When ``bands``
    reads ann_store's persisted text LSH table (bucketed by bucket), the
    self-join is co-located on both sides."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on="bucket")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_candidates(d: DataFrame) -> DataFrame:
    """Inline candidate generator over an arbitrary documents DataFrame
    (library form; the registry queries read the persisted band table)."""
    return _candidates_from_bands(_minhash_bands(d))


def _warn_store_fallback(what: str) -> None:
    """Make graceful degradation OBSERVABLE: a silently broken index store
    would leave every query correct but quietly re-paying the full inline
    recompute the store exists to eliminate (and bench would report
    'store-backed' timings for the recompute path)."""
    import warnings

    warnings.warn(
        f"ann_store unavailable for {what} — falling back to inline "
        "computation (correct, but the build-once/query-many optimization "
        "is OFF)",
        RuntimeWarning,
        stacklevel=3,
    )


# Environmental failures the store fallback is FOR: filesystem errors
# (read-only warehouse, missing dirs), catalog/analysis errors (alien table
# at the location), and JVM-side IO raised through py4j.  A genuine BUG in
# the index build (schema drift, bad validation logic) raises something else
# and must surface, not silently degrade to the inline path.
def _store_env_errors() -> tuple:
    from py4j.protocol import Py4JError
    from pyspark.errors import AnalysisException

    return (OSError, AnalysisException, Py4JError)


# failed (applicationId, ensure_fn, sf_dir) triples: the fallback decision
# is made ONCE per application — a persistently broken store must not re-pay
# the source stat pass and build attempt on every query call, and a NEW
# application (fresh context, possibly healthy warehouse) must retry rather
# than inherit a dead verdict from a previous one in the same process.
_STORE_FAILED: set[tuple[str, str, str]] = set()


def _failure_key(spark: SparkSession, fn_name: str, sf_dir: str):
    return (spark.sparkContext.applicationId, fn_name, sf_dir)


# degraded-mode memo for the IVF fallback frames (see _ivf_frames)
_IVF_FALLBACK: dict = {}


def _indexed(spark: SparkSession, sf_dir: str, ensure_fn, inline_fn) -> DataFrame:
    """Read a persisted index table (operators/ann_store.py), falling back
    to the bit-identical inline computation when the store can't be built
    (read-only warehouse / no writable cwd).  The store is an optimization
    — never a correctness requirement.  Failures are memoized per
    (application, ensure_fn, sf_dir) so the warning fires once and later
    calls skip the doomed build attempt."""
    fn_name = getattr(ensure_fn, "__name__", "index")
    if _failure_key(spark, fn_name, sf_dir) in _STORE_FAILED:
        return inline_fn()
    try:
        return spark.table(ensure_fn(spark, sf_dir))
    except _store_env_errors():
        _STORE_FAILED.add(_failure_key(spark, fn_name, sf_dir))
        _warn_store_fallback(fn_name)
        return inline_fn()


def _store_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs fed from the persisted text LSH band table (inline
    band computation as the no-store fallback)."""
    from .operators import ann_store

    bands = _indexed(
        spark,
        sf_dir,
        ann_store.ensure_text_lsh_index,
        lambda: _minhash_bands(t(spark, sf_dir, "documents")),
    )
    return _candidates_from_bands(bands)


def _lsh_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket) rows from the persisted embedding LSH table, inline
    band hashing as the no-store fallback."""
    from .operators import ann_store
    from .operators.dedup import ann_band_buckets

    return _indexed(
        spark,
        sf_dir,
        ann_store.ensure_lsh_index,
        lambda: t(spark, sf_dir, "embeddings").select(
            "vec_id", F.explode(ann_band_buckets(F.col("embedding"))).alias("bucket")
        ),
    )


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct rows from the persisted inverted index,
    inline re-shingling as the no-store fallback."""
    from .operators import ann_store

    def inline():
        d = t(spark, sf_dir, "documents")
        return d.select(
            "doc_id", F.explode(F.array_distinct(_text_shingles())).alias("shingle")
        )

    return _indexed(spark, sf_dir, ann_store.ensure_shingle_index, inline)


def _simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) fingerprints from the persisted table, inline
    hashing as the no-store fallback."""
    from .operators import ann_store
    from .operators.dedup import simhash

    return _indexed(
        spark,
        sf_dir,
        ann_store.ensure_simhash_index,
        lambda: simhash(t(spark, sf_dir, "documents"), "text", "doc_id"),
    )


def _ivf_frames(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(centroids, cells) from the persisted IVF index, inline deterministic
    build (same selection + assignment expressions) as the no-store
    fallback.  ``k`` selects a non-default (geometry-keyed) coarse-quantizer
    size."""
    from .operators import ann_store

    tag = "" if k is None else f"_k{k}"

    def fallback():
        # the inline build TRAINS the quantizer (eager Lloyd jobs) — memoize
        # the frames per (application, sf_dir) so degraded mode pays that
        # once, not on every query invocation
        key = _failure_key(spark, f"_ivf_fallback_frames{tag}", sf_dir)
        if key not in _IVF_FALLBACK:
            _IVF_FALLBACK[key] = ann_store.ivf_frames(
                t(spark, sf_dir, "embeddings"), k=IVF_K if k is None else k
            )
        return _IVF_FALLBACK[key]

    if _failure_key(spark, f"ensure_ivf_index{tag}", sf_dir) in _STORE_FAILED:
        return fallback()
    try:
        cents_tbl, cells_tbl = ann_store.ensure_ivf_index(spark, sf_dir, k=k)
        return spark.table(cents_tbl), spark.table(cells_tbl)
    except _store_env_errors():
        _STORE_FAILED.add(_failure_key(spark, f"ensure_ivf_index{tag}", sf_dir))
        _warn_store_fallback("ivf")
        return fallback()


def q_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates — the standard
    shingle→minhash→band→bucket-join pipeline, candidate join reading the
    persisted band table (ann_store) co-located on both sides."""
    return _store_candidates(spark, sf_dir).orderBy("doc_a", "doc_b")


def _sql_minhash_cte() -> str:
    """Shared DuckDB CTE chain ending in `cand(doc_a, doc_b)` — mirrors
    _minhash_candidates."""
    mh_exprs = ",\n".join(
        f"""list_min(list_transform(hashed, h -> ({a} * h + {b}) % {MH_P})) AS mh{j}"""
        for j, (a, b) in enumerate(zip(MH_A, MH_B))
    )
    band_list = ", ".join(
        f"concat('{bb}', ':', mh{2*bb}, ':', mh{2*bb+1})" for bb in range(MH_N // 2)
    )
    return f"""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
  FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> array_to_string(list_slice(w, i, i + 2), ' ')) AS shingles
  FROM words),
hs AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)) AS hashed
  FROM sh WHERE len(shingles) > 0),
sigs AS (
  SELECT doc_id, {mh_exprs}
  FROM hs),
bands AS (
  SELECT doc_id, unnest([{band_list}]) AS bucket FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


def _sql_minhash_lsh() -> str:
    return _sql_minhash_cte() + """
SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b
"""


def q_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard verification over the MinHash-LSH CANDIDATE PAIRS —
    exact |A∩B|/|A∪B| on distinct word-3-gram shingle sets, computed only for
    pairs the banded LSH surfaced.  Feeding candidates in (instead of
    all-pairs within coarse blocks) is what bounds the work: a hot shingle
    can no longer make one block quadratic, and total verify cost is
    O(|candidates| × shingles-per-doc).  Candidates read the persisted band
    table and the shingle material reads the persisted inverted index
    (ann_store) — NOTHING re-splits document text at query time."""
    cand = _store_candidates(spark, sf_dir)
    # |A∩B| per candidate pair via per-doc shingle SETS (r6 optimization,
    # guide §2.3/§3.3): the store rows are distinct per (doc_id, shingle)
    # and the table is bucketed by doc_id, so one exchange-free groupBy
    # rebuilds each doc's set + size; candidates then join the two small
    # array columns and intersect natively.  The former exploded form
    # re-shuffled the ENTIRE inverted index by (doc_id, shingle) for the
    # intersection join — O(corpus × shingles-per-doc) exchange per query;
    # this ships O(|candidates|) array payloads instead.  n_inter =
    # size(array_intersect) over distinct sets ≡ the exploded join's
    # per-pair match count, so jaccard is arithmetic-identical.
    ex = _shingle_rows(spark, sf_dir)
    sets = ex.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("_dsh"), F.count("*").alias("n_sh")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("_dsh").alias("_dsh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("_dsh").alias("_dsh_b"),
        F.col("n_sh").alias("n_b"),
    )
    scored = (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("_dsh_a", "_dsh_b")).alias("n_inter"),
            "n_a", "n_b",
        )
    )
    pairs = (
        scored.select(
            "doc_a", "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    )
    return pairs


def _sql_ngram_jaccard() -> str:
    return _sql_minhash_cte() + """,
s AS (SELECT doc_id, list_distinct(shingles) AS dsh FROM sh),
j AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(a.dsh, b.dsh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.dsh, b.dsh))), 4) AS jaccard
  FROM cand c JOIN s a ON a.doc_id = c.doc_a JOIN s b ON b.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b
"""


def q_text_dedup_keep(spark, sf_dir):
    """Text dedup KEEP-LIST — the documents-pipeline end state: MinHash-LSH
    candidates → exact Jaccard verification (≥ 0.2) → greedy-by-id keeper
    policy (drop the larger id of every verified pair) → per-lang
    kept/dropped counts."""
    d = t(spark, sf_dir, "documents")
    verified = q_ngram_jaccard(spark, sf_dir)  # (doc_a, doc_b, jaccard)
    drops = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    flagged = d.join(drops.withColumn("_drop", F.lit(True)), on="doc_id", how="left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("_drop"), 0).otherwise(1)).alias("kept"),
            F.sum(F.when(F.col("_drop"), 1).otherwise(0)).alias("dropped"),
        )
        .orderBy("lang")
    )


def _sql_text_dedup_keep() -> str:
    return _sql_minhash_cte() + """,
sd AS (SELECT doc_id, list_distinct(shingles) AS dsh FROM sh),
j AS (
  SELECT c.doc_b
  FROM cand c JOIN sd a ON a.doc_id = c.doc_a JOIN sd b ON b.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(a.dsh, b.dsh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.dsh, b.dsh))), 4) >= 0.2),
drops AS (SELECT DISTINCT doc_b AS doc_id FROM j)
SELECT lang,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM drops) THEN 0 ELSE 1 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM drops) THEN 1 ELSE 0 END) AS BIGINT) AS dropped
FROM documents GROUP BY lang ORDER BY lang
"""


def q_dedup_components(spark, sf_dir):
    """Connected-component dedup — the keep-min-per-COMPONENT policy (the
    common web-corpus alternative to text_dedup_keep's greedy pair rule):
    verified near-dup pairs (MinHash-LSH candidates → Jaccard ≥ 0.2) form an
    undirected graph; operators/dedup.connected_components assigns every
    touched doc its component's minimum doc_id in O(log n) rounds
    (min-label propagation + pointer jumping — adversarial long chains no
    longer cost O(diameter) driver-synchronized rounds).  Output:
    (doc_id, comp, comp_size), total-ordered by doc_id.  The final labels
    generation stays pinned — the returned plan reads its blocks; it is
    freed when the session's block store evicts or resets."""
    from .operators.dedup import connected_components

    verified = q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels, _iters = connected_components(verified)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("comp_size"))
    return labels.join(sizes, on="comp").select(
        "doc_id", "comp", "comp_size"
    ).orderBy("doc_id")


def _sql_dedup_components() -> str:
    # WITH RECURSIVE must head the statement; the shared minhash CTE chain
    # stays untouched otherwise
    head = _sql_minhash_cte().replace("WITH words", "WITH RECURSIVE words", 1)
    return head + """,
sd AS (SELECT doc_id, list_distinct(shingles) AS dsh FROM sh),
j AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sd a ON a.doc_id = c.doc_a JOIN sd b ON b.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(a.dsh, b.dsh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.dsh, b.dsh))), 4) >= 0.2),
edges AS (SELECT doc_a AS a, doc_b AS b FROM j
          UNION SELECT doc_b, doc_a FROM j),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
comp AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS comp_size FROM comp GROUP BY comp)
SELECT c.doc_id, c.comp, s.comp_size
FROM comp c JOIN sizes s ON s.comp = c.comp ORDER BY c.doc_id
"""


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline over the embeddings table (query
    = vec_id 0), double accumulation in array order on both engines."""
    e = t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        joined.select(
            "vec_id",
            F.round(dot / (norm(F.col("embedding")) * norm(F.col("qe"))), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, len(qe) + 1),
             i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS c
  FROM embeddings, q WHERE vec_id <> 0)
SELECT vec_id, ROUND(c, 4) AS cos FROM s ORDER BY cos DESC, vec_id LIMIT 10
"""


def q_embedding_lsh_ann(spark, sf_dir):
    """Banded-LSH index build (the ANN scale path): ANN_BANDS independent
    sign-bit hash tables of ANN_ROWS hyperplanes each; output is the
    (band, bucket) occupancy histogram.  Bucket count = bands × 2^rows is a
    PARAMETER (ann_planes), not a fixed constant — at 10^10 vectors `rows`
    grows so per-cell candidate work stays bounded.  Reads the persisted
    band table when available (this query IS the occupancy view of the
    index); the co-located layout makes the histogram a bucket-local agg."""
    k = _lsh_keyed(spark, sf_dir)
    return k.groupBy("bucket").agg(F.count("*").alias("cnt")).orderBy("bucket")


def _sql_dot(plane) -> str:
    arr = "[" + ", ".join(f"{float(w)}" for w in plane) + "]"
    return (
        f"list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
    )


def _sql_band_buckets(tables=None) -> str:
    """DuckDB literal: list of per-band 'band:bits' bucket keys over
    ``tables`` (default ANN_TABLES) — mirrors dedup.ann_band_buckets
    exactly, for any banding geometry."""
    parts = []
    for b, planes in enumerate(ANN_TABLES if tables is None else tables):
        bits = " + ".join(
            f"(CASE WHEN {_sql_dot(p)} > 0 THEN {1 << r} ELSE 0 END)"
            for r, p in enumerate(planes)
        )
        parts.append(f"concat('{b}', ':', CAST(({bits}) AS VARCHAR))")
    return "[" + ", ".join(parts) + "]"


def _sql_embedding_lsh_ann() -> str:
    return f"""
WITH e AS (SELECT vec_id, {_sql_band_buckets()} AS buckets FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e)
SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY bucket ORDER BY bucket
"""


# Scaled banding geometry (the 10^10-row sizing of the same index): more
# rows per band → bands × 2^rows buckets → bounded in-bucket candidate work.
# Oracle-checked HERE so geometry scaling is inside the correctness gate,
# not only a bench-side experiment.
ANN_SCALED_ROWS = 9


def _ensure_scaled_lsh(spark: SparkSession, sf_dir: str) -> str:
    """Named wrapper (the _indexed failure memo keys on __name__) for the
    geometry-keyed store table."""
    from .operators import ann_store

    return ann_store.ensure_lsh_index(
        spark, sf_dir, bands=ANN_BANDS, rows=ANN_SCALED_ROWS
    )


def q_embedding_lsh_scaled(spark, sf_dir):
    """Occupancy view of the SCALED-geometry LSH index (4×2^9 buckets vs the
    default 4×2^6): same banding operator, corpus-sized parameters — the
    knob that keeps in-bucket candidate pairs bounded as rows grow (the 10×
    anchor measures 21.9M→5.3M candidate pairs, 4.1×).  Reads the
    geometry-keyed persisted table; inline banding is the no-store
    fallback."""
    from .operators.dedup import ann_band_buckets

    tables = ann_planes(ANN_BANDS, ANN_SCALED_ROWS)

    def inline():
        return t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.explode(ann_band_buckets(F.col("embedding"), tables)).alias("bucket"),
        )

    k = _indexed(spark, sf_dir, _ensure_scaled_lsh, inline)
    return k.groupBy("bucket").agg(F.count("*").alias("cnt")).orderBy("bucket")


def _sql_embedding_lsh_scaled() -> str:
    buckets = _sql_band_buckets(ann_planes(ANN_BANDS, ANN_SCALED_ROWS))
    return f"""
WITH e AS (SELECT vec_id, {buckets} AS buckets FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e)
SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY bucket ORDER BY bucket
"""


def q_embedding_neardup_scaled(spark, sf_dir):
    """embedding_neardup under the SCALED 4×2^9 geometry — the pair set the
    10× anchor headlines (21.9M→5.3M candidate pairs) inside the correctness
    gate, not just recall-pinned by pytest.  Same operator
    (dedup.embedding_near_dup), same threshold; only the banding geometry
    (and hence the candidate feed) differs.  Reads the geometry-keyed
    persisted index table; inline banding is the no-store fallback."""
    from .operators.dedup import ann_band_buckets, embedding_near_dup

    e = t(spark, sf_dir, "embeddings")
    tables = ann_planes(ANN_BANDS, ANN_SCALED_ROWS)

    def inline():
        return e.select(
            "vec_id",
            F.explode(ann_band_buckets(F.col("embedding"), tables)).alias("bucket"),
        )

    keyed = _indexed(spark, sf_dir, _ensure_scaled_lsh, inline)
    return (
        embedding_near_dup(e, "embedding", "vec_id", threshold=0.25, keyed=keyed)
        .orderBy("id_a", "id_b")
        .limit(200)
    )


def q_image_phash_neardup(spark, sf_dir):
    """Image near-dup pairs by 64-bit perceptual-hash hamming distance
    (operators/dedup.image_phash_near_pairs — multi-probe sub-block banding,
    the image-payload dedup operator) under the DRIVER ORACLE: phashes are
    derived deterministically from doc ids (md5 60-bit, the engine's
    portable-hash idiom) and every 7th image gets a planted 're-encode'
    (2 flipped bits — what a real JPEG re-encode does to a perceptual hash).
    max_hamming=3 < bands, where banded recall is pigeonhole-EXACT, so the
    banded pair set equals DuckDB's brute-force bit_count(xor) pair scan
    bit-for-bit.  The crawl-world form (real fetched images through the same
    operator) stays pytest-verified in tests/test_dedup.py + test_crawl."""
    from .operators.dedup import image_phash_near_pairs

    d = t(spark, sf_dir, "documents")
    phash = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = d.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))
    reenc = base.filter(F.col("image_id") % 7 == 0).select(
        (F.col("image_id") + 1000000).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
    )
    return image_phash_near_pairs(base.unionByName(reenc), max_hamming=3).orderBy(
        "id_a", "id_b"
    )


SQL_IMAGE_PHASH_NEARDUP = """
WITH base AS (
  SELECT doc_id AS image_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS phash
  FROM documents),
allrows AS (
  SELECT image_id, phash FROM base
  UNION ALL
  SELECT image_id + 1000000, xor(phash, CAST(5 AS BIGINT)) FROM base WHERE image_id % 7 = 0)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM allrows a JOIN allrows b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY id_a, id_b
"""


def q_submit_dedup(spark, sf_dir):
    """C2's serial-submission resolution (views.py:269-302 replayed in
    submit order; prefix-block rule database.py:129-136) through the REAL
    operator (operators/frontier.resolve_intra_batch) over a deterministic
    3-level URL hierarchy synthesized from ``part``: roots host/w1/, dirs
    host/w1/w2/, leaves host/w1/w2/type/.  Exact duplicates resolve to the
    earliest submit_seq; a candidate is rejected iff an ACCEPTED strict
    prefix of it has a smaller seq — so a later root does NOT retro-block an
    earlier-accepted subdir, and a BLOCKED dir does not block its leaves
    (the serial fixpoint the level-unrolled DuckDB CTE replays).  The
    full-chain crawl-world form (incl. is_od/blacklist) stays
    pytest-verified vs tests/oracle.py."""
    from .operators.frontier import resolve_intra_batch

    p = t(spark, sf_dir, "part")
    words = F.split(F.lower(F.col("p_name")), " ")
    host = F.format_string("http://h%d.ex/", F.pmod("p_partkey", F.lit(7)))
    seq = F.col("p_partkey").cast("long")
    w1, w2 = F.element_at(words, 1), F.element_at(words, 2)
    typ = F.lower(F.col("p_type"))
    dirs = p.select(
        F.concat(host, w1, F.lit("/"), w2, F.lit("/")).alias("canon_url"),
        seq.alias("submit_seq"),
        F.lit(2).alias("depth"),
    )
    roots = p.filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(host, w1, F.lit("/")).alias("canon_url"),
        seq.alias("submit_seq"),
        F.lit(1).alias("depth"),
    )
    leaves = p.filter(F.col("p_partkey") % 4 == 0).select(
        F.concat(host, w1, F.lit("/"), w2, F.lit("/"), typ, F.lit("/")).alias(
            "canon_url"
        ),
        seq.alias("submit_seq"),
        F.lit(3).alias("depth"),
    )
    # depth domain is static here (the three select shapes above) — passing
    # it skips resolve_intra_batch's distinct-depth discovery job
    accepted = resolve_intra_batch(
        dirs.unionByName(roots).unionByName(leaves), depths=[1, 2, 3]
    )
    return accepted.select(F.col("canon_url").alias("url"), "submit_seq").orderBy(
        "submit_seq", "url"
    )


SQL_SUBMIT_DEDUP = """
WITH w AS (
  SELECT CAST(p_partkey AS BIGINT) AS seq,
         'http://h' || CAST(p_partkey % 7 AS VARCHAR) || '.ex/' AS host,
         string_split(lower(p_name), ' ') AS ws,
         lower(p_type) AS typ
  FROM part),
cand AS (
  SELECT host || ws[1] || '/' || ws[2] || '/' AS url, seq, 2 AS depth FROM w
  UNION ALL
  SELECT host || ws[1] || '/' AS url, seq, 1 AS depth FROM w WHERE seq % 10 = 0
  UNION ALL
  SELECT host || ws[1] || '/' || ws[2] || '/' || typ || '/' AS url, seq, 3 AS depth
  FROM w WHERE seq % 4 = 0),
uniq AS (SELECT url, min(seq) AS seq, min(depth) AS depth FROM cand GROUP BY url),
acc1 AS (SELECT * FROM uniq WHERE depth = 1),
acc2 AS (
  SELECT c.* FROM uniq c WHERE c.depth = 2 AND NOT EXISTS (
    SELECT 1 FROM acc1 a
    WHERE a.url = substr(c.url, 1, len(a.url)) AND a.seq < c.seq)),
acc3 AS (
  SELECT c.* FROM uniq c WHERE c.depth = 3 AND NOT EXISTS (
    SELECT 1 FROM (SELECT * FROM acc1 UNION ALL SELECT * FROM acc2) a
    WHERE a.url = substr(c.url, 1, len(a.url)) AND a.seq < c.seq))
SELECT url, seq AS submit_seq
FROM (SELECT * FROM acc1 UNION ALL SELECT * FROM acc2 UNION ALL SELECT * FROM acc3)
ORDER BY submit_seq, url
"""


def q_token_count(spark, sf_dir):
    """Token counting two ways (training-data pipeline op): whitespace split
    vs a BPE-ish greedy-chunk regex, aggregated per lang."""
    d = t(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"), 0))
    return (
        d.groupBy("lang")
        .agg(
            F.sum(ws.cast("long")).alias("ws_tokens"),
            F.sum(bpe.cast("long")).alias("bpe_tokens"),
            F.count("*").alias("docs"),
        )
        .orderBy("lang")
    )


SQL_TOKEN_COUNT = r"""
SELECT lang,
  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), w -> w <> ''))) AS BIGINT) AS ws_tokens,
  CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
  CAST(count(*) AS BIGINT) AS docs
FROM documents GROUP BY lang ORDER BY lang
"""

ROLL_B = 131
ROLL_P = 2147483647


def q_rolling_fingerprint(spark, sf_dir):
    """Document fingerprinting via a polynomial rolling hash over word codes
    (Rabin-Karp shape): fp = fold(words, h*B + code mod P).  Duplicate
    fingerprints = dedup candidates; output is the fingerprint histogram head."""
    d = t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    codes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long")
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(ROLL_B) + c) % F.lit(ROLL_P),
    )
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .orderBy("doc_id")
        .limit(200)
    )


SQL_ROLLING_FINGERPRINT = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
                     w -> CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT))),
    (acc, c) -> (acc * {ROLL_B} + c) % {ROLL_P}) AS fingerprint
FROM documents ORDER BY doc_id LIMIT 200
"""


def q_embedding_bucket_search(spark, sf_dir):
    """ANN query through the PERSISTED banded-LSH index (operators/
    ann_store.py): the query vector's band buckets are resolved from the
    vector itself (one pushed-down single-row scan, ANN_BANDS literal keys
    out), the index table is filtered on those literals (pushed IN filter +
    bucket pruning — only the matching bucket files are read; the corpus
    NEVER recomputes its bucket keys at query time), and brute-force cosine
    runs only over the candidate ids (top 5)."""
    e = t(spark, sf_dir, "embeddings")
    idx = _lsh_keyed(spark, sf_dir)
    # phase 1 (query planning): the query vector's own bucket keys, READ
    # from the index rows (the index stores every vector's keys, bit-
    # identical to the inline banding) — an O(bands)-row lookup with a
    # trivial plan, vs re-planning the bands × rows × dim literal
    # hyperplane tree per invocation (driver planning dominated this
    # query's latency — guide §7.3; the banding tree was ~25% of a fresh
    # plan, measured r2)
    q_buckets = [
        r["bucket"]
        for r in idx.filter(F.col("vec_id") == 0).select("bucket").collect()
    ]
    cand_ids = (
        idx.filter((F.col("vec_id") != 0) & F.col("bucket").isin(q_buckets))
        .select("vec_id")
        .distinct()
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cands = e.join(cand_ids, on="vec_id", how="left_semi").crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        cands.select(
            "vec_id",
            F.round(dot / (norm(F.col("embedding")) * norm(F.col("qe"))), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(5)
    )


def _sql_embedding_bucket_search() -> str:
    return f"""
WITH e AS (SELECT vec_id, {_sql_band_buckets()} AS buckets FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e),
qb AS (SELECT bucket FROM k WHERE vec_id = 0),
cand AS (SELECT DISTINCT vec_id FROM k
         WHERE vec_id <> 0 AND bucket IN (SELECT bucket FROM qb)),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e2.vec_id,
    list_sum(list_transform(range(1, len(e2.embedding) + 1),
             i -> CAST(e2.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(range(1, len(e2.embedding) + 1),
             i -> CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, len(qe) + 1),
             i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS c
  FROM embeddings e2 JOIN cand ON e2.vec_id = cand.vec_id CROSS JOIN q)
SELECT vec_id, ROUND(c, 4) AS cos FROM s ORDER BY cos DESC, vec_id LIMIT 5
"""


def q_simhash(spark, sf_dir):
    """60-bit SimHash fingerprints per document (sign-aggregated word-hash
    bits) — the operator lives in operators/dedup.py; this is its
    oracle-checked query form."""
    # index-lookup form: fingerprints come from the persisted table
    # (hashed once at ingest); the doc_id bound prunes row groups
    # (table is doc_id-sorted).  doc_id < 500 exists at every sf.
    fps = _simhash_fps(spark, sf_dir)
    return fps.filter(F.col("doc_id") < 500).orderBy("doc_id").limit(100)


def _sql_simhash() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_transform(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')),
                        x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM documents WHERE doc_id < 500)
SELECT doc_id, ({bits}) AS simhash FROM w ORDER BY doc_id LIMIT 100
"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-duplicate PAIRS: hamming distance over the 60-bit
    fingerprints, candidates via MULTI-PROBE sub-block banding (4 disjoint
    15-bit blocks; pigeonhole: every pair within hamming ≤ 3 is guaranteed
    found, and in practice far beyond — the round-2 single-top-16-bit
    blocking missed any pair whose differing bits touched the block).
    Fingerprints READ from the persisted table (ann_store — hashed once at
    ingest, 16 B/doc); candidate banding + hamming verify via
    operators/dedup.near_pairs_from_fingerprints."""
    from .operators.dedup import near_pairs_from_fingerprints

    fps = _simhash_fps(spark, sf_dir)
    sh = fps.filter(F.col("doc_id") < 300)
    return (
        near_pairs_from_fingerprints(sh, "doc_id", max_hamming=24, bands=4)
        .orderBy("id_a", "id_b")
        .limit(200)
    )


def _sql_simhash_neardup() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_transform(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')),
                        x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM documents WHERE doc_id < 300),
s AS (SELECT doc_id, ({bits}) AS sh FROM w),
k AS (SELECT doc_id, sh, band, (sh >> (band * 15)) & 32767 AS block
      FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM k a JOIN k b ON a.band = b.band AND a.block = b.block
                    AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM p WHERE hamming <= 24
ORDER BY id_a, id_b LIMIT 200
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs through the LSH buckets — the
    dedup-pipeline form (operators/dedup.embedding_near_dup) as an
    oracle-checked query.  Bucket keys come from the persisted index table
    (ann_store) — the self-join reads it co-located on both sides."""
    from .operators.dedup import embedding_near_dup

    e = t(spark, sf_dir, "embeddings")
    keyed = _lsh_keyed(spark, sf_dir)
    return (
        embedding_near_dup(e, "embedding", "vec_id", threshold=0.25, keyed=keyed)
        .orderBy("id_a", "id_b")
        .limit(200)
    )


def _sql_embedding_neardup(tables=None) -> str:
    """``tables`` selects a non-default banding geometry (ann_planes) — the
    scaled-geometry registry row replays the exact same pipeline with the
    4×2^9 plane literals."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding, {_sql_band_buckets(tables)} AS buckets,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
  FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e),
p AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
c AS (
  SELECT p.id_a, p.id_b,
    ROUND(list_sum(list_transform(range(1, len(ea.embedding) + 1),
          i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
          / (ea.n * eb.n), 4) AS cosine
  FROM p JOIN e ea ON ea.vec_id = p.id_a JOIN e eb ON eb.vec_id = p.id_b)
SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.25
ORDER BY id_a, id_b LIMIT 200
"""


def q_embedding_batch_ann(spark, sf_dir):
    """BATCH ANN join — the curation-pipeline shape: top-3 nearest corpus
    vectors for EVERY query vector (vec_id % 41 == 7) in one job, candidates
    restricted to shared banded-LSH buckets.  Both sides of the bucket join
    READ the persisted index table (operators/ann_store.py) — bucketed by
    ``bucket``, so the self-join is co-located (zero exchange of the index
    rows); embeddings join back per side after distinct pairs; top-k per
    query is a bounded window (WindowGroupLimit)."""
    e = t(spark, sf_dir, "embeddings")
    is_q = F.col("vec_id") % 41 == 7
    keyed = _lsh_keyed(spark, sf_dir)
    qk = keyed.filter(is_q).select(F.col("vec_id").alias("q_id"), "bucket")
    ck = keyed.filter(~is_q).select(F.col("vec_id").alias("c_id"), "bucket")
    pairs = qk.join(ck, on="bucket").select("q_id", "c_id").distinct()
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    eq = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("_eq"), norm.alias("_nq"))
    ec = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("_ec"), norm.alias("_nc"))
    dot = F.aggregate(
        F.zip_with("_eq", "_ec", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        pairs.join(eq, on="q_id")
        .join(ec, on="c_id")
        .select("q_id", "c_id", F.round(dot / (F.col("_nq") * F.col("_nc")), 4).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("q_id", "rnk")
    )


def _sql_embedding_batch_ann() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding, {_sql_band_buckets()} AS buckets,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
  FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e),
p AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM k q JOIN k c ON q.bucket = c.bucket
  WHERE q.vec_id % 41 = 7 AND c.vec_id % 41 <> 7),
s AS (
  SELECT p.q_id, p.c_id,
    ROUND(list_sum(list_transform(range(1, len(eq.embedding) + 1),
          i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
          / (eq.n * ec.n), 4) AS cos
  FROM p JOIN e eq ON eq.vec_id = p.q_id JOIN e ec ON ec.vec_id = p.c_id),
r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s)
SELECT q_id, c_id, cos, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
ORDER BY q_id, rnk
"""


def q_embedding_dedup_keep(spark, sf_dir):
    """Dedup KEEP-LIST: the pipeline step after near-dup pair generation —
    greedy-by-id policy (drop any vector that near-duplicates a smaller id;
    deterministic, single pass, the standard web-corpus keeper rule).
    Output: kept-count and dropped-count per label.  Bucket keys come from
    the persisted index table (ann_store)."""
    from .operators.dedup import embedding_near_dup

    e = t(spark, sf_dir, "embeddings")
    keyed = _lsh_keyed(spark, sf_dir)
    pairs = embedding_near_dup(e, "embedding", "vec_id", threshold=0.25, keyed=keyed)
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    flagged = e.join(drops.withColumn("_drop", F.lit(True)), on="vec_id", how="left")
    return (
        flagged.groupBy("label")
        .agg(
            F.sum(F.when(F.col("_drop"), 0).otherwise(1)).alias("kept"),
            F.sum(F.when(F.col("_drop"), 1).otherwise(0)).alias("dropped"),
        )
        .orderBy("label")
    )


def _sql_embedding_dedup_keep() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding, {_sql_band_buckets()} AS buckets,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
  FROM embeddings),
k AS (SELECT vec_id, unnest(buckets) AS bucket FROM e),
p AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
c AS (
  SELECT p.id_b
  FROM p JOIN e ea ON ea.vec_id = p.id_a JOIN e eb ON eb.vec_id = p.id_b
  WHERE ROUND(list_sum(list_transform(range(1, len(ea.embedding) + 1),
        i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
        / (ea.n * eb.n), 4) >= 0.25),
d AS (SELECT DISTINCT id_b AS vec_id FROM c)
SELECT label,
       CAST(sum(CASE WHEN e.vec_id IN (SELECT vec_id FROM d) THEN 0 ELSE 1 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN e.vec_id IN (SELECT vec_id FROM d) THEN 1 ELSE 0 END) AS BIGINT) AS dropped
FROM e GROUP BY label ORDER BY label
"""


IVF_K = 16  # FIXED centroid count — does not grow with the table
IVF_NPROBE = 2  # cells searched per query (multi-probe recall knob)
IVF_LLOYD = 2  # fixed Lloyd refinement iterations (deterministic, replayable)


def q_embedding_ivf_search(spark, sf_dir):
    """IVF-style ANN with a TRAINED deterministic coarse quantizer: seeds
    are the IVF_K vectors smallest by md5(vec_id) (a replayable uniform
    sample), refined by IVF_LLOYD fixed Lloyd iterations (per-cell component
    means rounded to 6dp — order-insensitive, so the oracle can replay the
    k-means exactly; balanced cells mean no hot probe at 10^10 vectors).
    Assign each vector to its nearest centroid by L2, then MULTI-PROBE the
    IVF_NPROBE nearest cells of the query vector (cosine top 5) — the
    standard nprobe recall knob.

    Scale shape: the index is PERSISTED (operators/ann_store.py — built once:
    TakeOrdered centroid selection, broadcast O(N·K) assignment, map-side
    arg-min); the query path reads the K-row centroid table to rank its
    IVF_NPROBE cells, then probes the cells table — inverted lists
    PARTITIONED BY cell, so only nprobe/K of the index is read and the
    candidate embeddings come straight off the index with no join back."""
    e = t(spark, sf_dir, "embeddings")
    cents, cells = _ivf_frames(spark, sf_dir)
    return ivf_probe(e.filter(F.col("vec_id") == 0), cents, cells, IVF_NPROBE)


def ivf_probe(
    qrow: DataFrame, cents: DataFrame, cells: DataFrame, nprobe: int = IVF_NPROBE,
    exclude_qid: int = 0, topk: int = 5,
) -> DataFrame:
    """The IVF query shape, shared by the oracle query and the bench's
    scaled-K anchor: rank the query's nprobe cells over the K-row centroid
    table (broadcast), DPP-prune the cells table to those partitions, cosine
    over the candidates."""
    from .operators import ann_store

    qcells = ann_store.query_cells(qrow, cents, nprobe)
    qv = qrow.select(F.col("embedding").alias("qe"))
    cands = (
        cells.filter(F.col("vec_id") != exclude_qid)
        .join(F.broadcast(qcells), on=F.col("cell") == F.col("qc"))
        .crossJoin(F.broadcast(qv))
    )
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        cands.select(
            "vec_id",
            F.round(dot / (norm(F.col("embedding")) * norm(F.col("qe"))), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(topk)
    )


def _sql_ivf_l2(emb_expr: str, cent_expr: str) -> str:
    """DuckDB squared-L2 between two list columns — mirrors the fold in
    ann_store._assign_cells (same element order, same double casts)."""
    return (
        f"list_sum(list_transform(range(1, len({emb_expr}) + 1), "
        f"i -> (CAST({emb_expr}[i] AS DOUBLE) - CAST({cent_expr}[i] AS DOUBLE))"
        f" * (CAST({emb_expr}[i] AS DOUBLE) - CAST({cent_expr}[i] AS DOUBLE))))"
    )


def _sql_ivf_cells_ctes(k: int | None = None) -> list:
    """Shared DuckDB CTE chain ending in ``cells(vec_id, embedding, cell)``:
    md5-sample seeds + IVF_LLOYD unrolled Lloyd iterations (assignment →
    per-cell per-position avg rounded to 6dp → list rebuild), then the
    final assignment — each CTE mirrors one DataFrame step in
    ann_store.ivf_frames.  ``k`` replays a non-default quantizer size."""
    ctes = [
        f"""c0 AS (
  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {IVF_K if k is None else k})"""
    ]
    for it in range(IVF_LLOYD):
        ctes.append(
            f"""a{it} AS (
  SELECT e.vec_id, c.cent_id, {_sql_ivf_l2('e.embedding', 'c.cent')} AS d2
  FROM embeddings e CROSS JOIN c{it} c)"""
        )
        ctes.append(
            f"""m{it} AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM a{it}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""p{it} AS (
  SELECT m.cell, r.i, avg(CAST(e.embedding[r.i] AS DOUBLE)) AS mu
  FROM m{it} m JOIN embeddings e USING (vec_id)
  CROSS JOIN range(1, {ANN_DIM} + 1) r(i)
  GROUP BY m.cell, r.i)"""
        )
        ctes.append(
            f"""c{it + 1} AS (
  SELECT cell AS cent_id, list(round(mu, 6) ORDER BY i) AS cent
  FROM p{it} GROUP BY cell)"""
        )
    fin = IVF_LLOYD
    ctes.append(
        f"""af AS (
  SELECT e.vec_id, c.cent_id, {_sql_ivf_l2('e.embedding', 'c.cent')} AS d2
  FROM embeddings e CROSS JOIN c{fin} c)"""
    )
    ctes.append(
        """cells AS (
  SELECT a.vec_id, e.embedding, a.cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM af) a JOIN embeddings e ON e.vec_id = a.vec_id WHERE a.rn = 1)"""
    )
    return ctes


def _sql_embedding_ivf(k: int | None = None) -> str:
    """IVF oracle: the shared trained-quantizer CTE chain, then nprobe
    ranking and candidate cosine — mirrors q_embedding_ivf_search.  ``k``
    replays the scaled coarse quantizer."""
    ctes = _sql_ivf_cells_ctes(k)
    ctes.append(
        f"""qcells AS (
  SELECT cent_id AS qc FROM (
    SELECT cent_id, row_number() OVER (ORDER BY d2, cent_id) AS rn
    FROM af WHERE vec_id = 0) WHERE rn <= {IVF_NPROBE})"""
    )
    ctes.append("q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)")
    ctes.append(
        """s AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, len(qe) + 1),
             i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS c
  FROM cells JOIN qcells ON cells.cell = qcells.qc CROSS JOIN q
  WHERE vec_id <> 0)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT vec_id, ROUND(c, 4) AS cos FROM s ORDER BY cos DESC, vec_id LIMIT 5\n"
    )


def q_embedding_ivf_search_scaled(spark, sf_dir):
    """The scaled-K IVF SEARCH itself inside the gate (ivf_cell_stats_scaled
    checks occupancy; this row checks the nprobe probe's top-k under the
    K=64 quantizer).  Recall may legitimately differ from K=16 — the probed
    nprobe/K slice of the corpus changes with the geometry — and the oracle
    replays exactly that: same trained cells, same probe ranking."""
    e = t(spark, sf_dir, "embeddings")
    cents, cells = _ivf_frames(spark, sf_dir, k=IVF_SCALED_K)
    return ivf_probe(e.filter(F.col("vec_id") == 0), cents, cells, IVF_NPROBE)


def q_ivf_cell_stats(spark, sf_dir):
    """Occupancy of the TRAINED IVF quantizer's cells (cell = seed cent_id,
    cnt = inverted-list size) — the index-health view an operator watches at
    scale: a hot cell is a hot probe, and the Lloyd refinement exists to
    flatten exactly this histogram (balance vs the raw sample asserted in
    tests).  Reads the persisted cells table (partition-column-only scan —
    the histogram comes from partition metadata-sized reads, embeddings
    never load); inline ivf_frames is the no-store fallback."""
    _cents, cells = _ivf_frames(spark, sf_dir)
    return (
        cells.groupBy("cell")
        .agg(F.count("*").alias("cnt"))
        .orderBy("cell")
        .select(F.col("cell").cast("long").alias("cell"), "cnt")
    )


def _sql_ivf_cell_stats(k: int | None = None) -> str:
    ctes = _sql_ivf_cells_ctes(k)
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS cnt"
        + "\nFROM cells GROUP BY cell ORDER BY cell\n"
    )


IVF_SCALED_K = 64  # the k≈√N scale path at bench SFs (k is a PARAMETER; the
# 10× anchor sizes it to its corpus at runtime — this fixed value keeps the
# oracle replay a finite CTE chain)


def _ensure_scaled_ivf(spark: SparkSession, sf_dir: str):
    """Named wrapper (the _indexed failure memo keys on __name__) for the
    geometry-keyed scaled-K IVF tables."""
    from .operators import ann_store

    return ann_store.ensure_ivf_index(spark, sf_dir, k=IVF_SCALED_K)


def q_ivf_cell_stats_scaled(spark, sf_dir):
    """Cell occupancy under the SCALED coarse quantizer (K=64 vs the default
    16): the k ≈ √N sizing rule in action — per-cell inverted lists shrink
    ~K/16×, so an nprobe probe reads proportionally less data while probe
    ranking stays O(K) rows.  Same trained-Lloyd build, geometry-keyed
    tables; the DuckDB oracle replays the k-means at K=64."""
    _cents, cells = _ivf_frames(spark, sf_dir, k=IVF_SCALED_K)
    return (
        cells.groupBy("cell")
        .agg(F.count("*").alias("cnt"))
        .orderBy("cell")
        .select(F.col("cell").cast("long").alias("cell"), "cnt")
    )


# ---------------------------------------------------------------------------
# registry


REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "ext_breakdown": (q_ext_breakdown, SQL_EXT_BREAKDOWN),
    "global_totals": (q_global_totals, SQL_GLOBAL_TOTALS),
    "extended_stats": (q_extended_stats, SQL_EXTENDED_STATS),
    "size_histogram": (q_size_histogram, SQL_SIZE_HISTOGRAM),
    "date_histogram": (q_date_histogram, SQL_DATE_HISTOGRAM),
    "website_scatter": (q_website_scatter, SQL_WEBSITE_SCATTER),
    "filtered_search": (q_filtered_search, SQL_FILTERED_SEARCH),
    "listing_page": (q_listing_page, SQL_LISTING_PAGE),
    "recrawl_pool": (q_recrawl_pool, SQL_RECRAWL_POOL),
    "random_row": (q_random_row, SQL_RANDOM_ROW),
    "join_deleted_default": (q_join_deleted_default, SQL_JOIN_DELETED_DEFAULT),
    "prefix_semi_join": (q_prefix_semi_join, SQL_PREFIX_SEMI_JOIN),
    "multi_match": (q_multi_match, SQL_MULTI_MATCH),
    "trigram_rank": (q_trigram_rank, _sql_trigram_rank()),
    "highlight": (q_highlight, SQL_HIGHLIGHT),
    "blocklist": (q_blocklist, _sql_blocklist()),
    "ascii_fold": (q_ascii_fold, _sql_ascii_fold()),
    "index_meta_stats": (q_index_meta_stats, SQL_INDEX_META_STATS),
    "stats_snapshot": (q_stats_snapshot, SQL_STATS_SNAPSHOT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "quality_flags": (q_quality_flags, _sql_quality_flags()),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "minhash_lsh": (q_minhash_lsh, _sql_minhash_lsh()),
    "ngram_jaccard": (q_ngram_jaccard, _sql_ngram_jaccard()),
    "text_dedup_keep": (q_text_dedup_keep, _sql_text_dedup_keep()),
    "dedup_components": (q_dedup_components, _sql_dedup_components()),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_lsh_ann": (q_embedding_lsh_ann, _sql_embedding_lsh_ann()),
    "embedding_lsh_scaled": (q_embedding_lsh_scaled, _sql_embedding_lsh_scaled()),
    "ivf_cell_stats": (q_ivf_cell_stats, _sql_ivf_cell_stats()),
    "ivf_cell_stats_scaled": (q_ivf_cell_stats_scaled, _sql_ivf_cell_stats(IVF_SCALED_K)),
    "embedding_bucket_search": (q_embedding_bucket_search, _sql_embedding_bucket_search()),
    "embedding_ivf_search": (q_embedding_ivf_search, _sql_embedding_ivf()),
    "embedding_ivf_search_scaled": (
        q_embedding_ivf_search_scaled,
        _sql_embedding_ivf(IVF_SCALED_K),
    ),
    "simhash": (q_simhash, _sql_simhash()),
    "simhash_neardup": (q_simhash_neardup, _sql_simhash_neardup()),
    "embedding_neardup": (q_embedding_neardup, _sql_embedding_neardup()),
    "embedding_neardup_scaled": (
        q_embedding_neardup_scaled,
        _sql_embedding_neardup(ann_planes(ANN_BANDS, ANN_SCALED_ROWS)),
    ),
    "image_phash_neardup": (q_image_phash_neardup, SQL_IMAGE_PHASH_NEARDUP),
    "submit_dedup": (q_submit_dedup, SQL_SUBMIT_DEDUP),
    "embedding_batch_ann": (q_embedding_batch_ann, _sql_embedding_batch_ann()),
    "embedding_dedup_keep": (q_embedding_dedup_keep, _sql_embedding_dedup_keep()),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "rolling_fingerprint": (q_rolling_fingerprint, SQL_ROLLING_FINGERPRINT),
}
