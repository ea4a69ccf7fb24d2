"""Deduplication operators as a library surface over arbitrary DataFrames
(training-data pipeline ops; the oracle-checked query forms live in
queries.py).

- exact_dedup: hash-groupBy keeper selection
- minhash_signatures / lsh_candidate_pairs: shingle → minhash → band →
  bucket-join (md5-derived hashes, portable to any re-implementation)
- simhash: 60-bit sign-aggregated fingerprint, native expressions only
- embedding_near_dup: LSH-bucketed cosine near-duplicate pairs

Everything below stays in native Catalyst expressions (no Python UDFs): the
hot path at 100 TB is groupBy/join shuffles, which AQE handles, plus
whole-stage-codegen'd array expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries import ANN_TABLES, MH_A, MH_B, MH_P

SIMHASH_BITS = 60  # 15 md5 hex digits — keeps the word hash inside int64


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per exact content hash (keeper = min id)."""
    fp = F.md5(F.col(text_col)).alias("_fp")
    keepers = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def _word_shingles(text: Column, k: int = 3) -> Column:
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    # guard: F.sequence(1, 0) DESCENDS ([1, 0]) instead of yielding an empty
    # array, and slice(start=0) then throws — a <k-word document must
    # produce zero shingles, not fail the job
    return F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """8 minhash values per document over word-3-gram shingles.

    Hashes per OCCURRENCE (no vocab-distinct join): the only shuffle is the
    per-doc groupBy, partial-combined map-side to 8 mins per doc — strictly
    less exchange volume than joining occurrences by shingle string."""
    ex = df.select(F.col(id_col), F.explode(_word_shingles(F.col(text_col))).alias("shingle"))
    return (
        ex.withColumn(
            "_h", F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("long")
        )
        .groupBy(id_col)
        .agg(
            *[
                F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MH_P)).alias(f"mh{j}")
                for j, (a, b) in enumerate(zip(MH_A, MH_B))
            ]
        )
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str, rows_per_band: int = 2) -> DataFrame:
    """Band the signatures and bucket-join: pairs sharing any band bucket."""
    n_bands = len(MH_A) // rows_per_band
    buckets = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(F.col(id_col), F.explode(buckets).alias("bucket"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash over word tokens, fully native: per-word md5-derived
    hash → ±1 bit contributions aggregated per position → sign bits.

    The bit tests run through a literal MASK ARRAY and transform/zip_with —
    one small expression tree instead of 60-child when-arrays.  Measured 9x
    faster at sf0.1 (the when-array form was planning/interpretation-bound),
    bit-identical output.  The mask sum equals the bitwise OR because the
    masks are disjoint powers of two."""
    words = F.array_distinct(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != ""))
    # one md5 per word (shift amounts must be Python ints — Spark's shift
    # functions don't take Column counts — hence masks, not shifts)
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    masks = F.lit([1 << i for i in range(SIMHASH_BITS)])
    zeros = F.array_repeat(F.lit(0), SIMHASH_BITS)
    acc = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks, lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1))
            ),
            lambda x, y: x + y,
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            acc, masks, lambda a, m: F.when(a > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _bound_hot_groups(
    keyed: DataFrame, group_cols: list, id_col: str, cap: int, what: str
) -> DataFrame:
    """Skew guard for candidate self-joins: a hot group (an adversarial
    duplicate-heavy cluster, an all-zero embedding sliver) costs O(n²) pairs
    no matter the banding geometry.  Instead of EXCLUDING over-cap groups
    (the round-4 form — recall inside them dropped to zero), rows of a hot
    group are salted into ⌈n/cap⌉ sub-chunks by ``pmod(xxhash64(id),
    chunks)`` and the self-join key gains the chunk: per-group pair work
    drops from C(n,2) to ~chunks·C(n/chunks,2) ≈ n·cap/2 in expectation
    (hash-balanced chunks; a rank-window would make the bound hard but
    single-tasks the hot group's sort — the wrong trade at 10^7-row
    groups) — BOUNDED, while
    within-chunk duplicates are still found (partial, deterministic recall:
    a pair survives iff both ids salt into the same chunk, ~1/chunks of
    pairs — nonzero, vs 0 under exclusion; a downstream connected-components
    pass still collapses each chunk-clique).  The trade is surfaced as a
    RuntimeWarning — never a silent truncation.  At scale the pre-count is
    one slim map-side-combined agg over the group keys, and only the (few,
    by assumption) hot keys ride the broadcast; nothing is collected beyond
    the warning's count (the keys themselves never reach the driver).

    Returns ``keyed`` plus a ``_chunk`` column (0 outside hot groups) —
    callers must add ``_chunk`` to the self-join keys."""
    import warnings

    sizes = keyed.groupBy(*group_cols).agg(F.count("*").alias("_n"))
    # lazy plan, re-evaluated by the join below: the slim map-side-combined
    # agg is cheap next to the pair join, and keeping it lazy avoids pinning
    # checkpoint blocks this helper has no hook to release
    hot = sizes.filter(F.col("_n") > cap).select(
        *group_cols, F.ceil(F.col("_n") / cap).cast("long").alias("_chunks")
    )
    n_hot = hot.count()
    if n_hot == 0:
        return keyed.withColumn("_chunk", F.lit(0).cast("long"))
    warnings.warn(
        f"{what}: salting {n_hot} hot group(s) larger than {cap} rows into "
        "sub-chunks (bounded pair generation; within-chunk recall only for "
        "those groups — run exact dedup on them for full recall)",
        RuntimeWarning,
        stacklevel=3,
    )
    return (
        keyed.join(F.broadcast(hot), on=group_cols, how="left")
        .withColumn(
            "_chunk",
            F.when(
                F.col("_chunks").isNotNull(),
                F.pmod(F.xxhash64(F.col(id_col)), F.col("_chunks")),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_chunks")
    )


def near_pairs_from_fingerprints(
    sh: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
    max_block_size: int | None = None,
) -> DataFrame:
    """Hamming near-dup pairs from a (id, simhash) fingerprint table via
    MULTI-PROBE sub-block banding: the ``bits`` bits split into ``bands``
    disjoint sub-blocks; candidates join on (band, block).  Pigeonhole
    guarantee: a pair within hamming ≤ bands-1 cannot differ in every
    sub-block, so it shares at least one exact (band, block) key — recall is
    EXACT for hamming ≤ bands-1 (the round-2 top-16-bit blocking silently
    missed any pair whose differing bits touched the block).  Join rows stay
    slim: (id, 8-byte fingerprint, band, block).  ``bits`` covers both the
    60-bit text SimHash and 64-bit image perceptual hashes."""
    width = bits // bands
    mask = F.lit((1 << width) - 1)
    keyed = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width).bitwiseAND(mask).alias("block"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bb"),
    ).select(id_col, "simhash", F.col("_bb.band").alias("band"), F.col("_bb.block").alias("block"))
    join_keys = ["band", "block"]
    if max_block_size is not None:
        keyed = _bound_hot_groups(
            keyed, ["band", "block"], id_col, max_block_size,
            "near_pairs_from_fingerprints",
        )
        join_keys = ["band", "block", "_chunk"]
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, on=join_keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()  # a pair sharing several sub-blocks joins once per band
        .filter(F.col("hamming") <= max_hamming)
    )


def image_phash_near_pairs(
    images: DataFrame, max_hamming: int = 6, bands: int = 4
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance — the
    image-side analog of simhash_near_pairs, over the fetched images table
    (input_hint shape: image_id, ..., phash:int64).  The 64-bit phash goes
    through the same multi-probe sub-block banding (4×16-bit blocks):
    pigeonhole-exact recall for hamming ≤ bands-1, slim join rows, no pixel
    data ever rides the shuffle.  At 10^10 images this runs off a persisted
    (image_id, phash) projection — 16 B/row, the ann_store fingerprint
    pattern.  phash is signed (xxhash64-derived); the arithmetic shift's
    sign extension is masked off per block, and bit_count(xor) is
    sign-correct."""
    sh = images.select(F.col("image_id"), F.col("phash").alias("simhash"))
    return near_pairs_from_fingerprints(
        sh, "image_id", max_hamming=max_hamming, bands=bands, bits=64
    )


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 6, bands: int = 4
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance over text — fingerprints
    MATERIALIZED before the self-join (recomputing the 60-bit hash on both
    join sides costs ~3x, measured; at corpus scale persist them to a
    fingerprint table, 16 B/doc), candidates via multi-probe sub-block
    banding (near_pairs_from_fingerprints)."""
    sh = simhash(df, text_col, id_col).localCheckpoint(eager=False)
    return near_pairs_from_fingerprints(sh, id_col, max_hamming, bands)


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> tuple[DataFrame, int]:
    """Connected components over an undirected edge list: every touched node
    gets its component's MINIMUM id.  Returns (labels(doc_id, comp), iters).

    Convergence is O(log n) rounds, not O(diameter): each round combines
    min-label propagation over the edges with a POINTER-JUMPING step
    (comp := min(comp, comp[comp]) — the label chain halves every round,
    the two-phase star-contraction bound of Kiveris et al.'s "Connected
    Components in MapReduce" with the same slim per-round shuffle shape).
    Near-dup graphs converge in 2-3 rounds either way (components are
    near-cliques); the jump is what bounds ADVERSARIAL long chains — a
    50-node path converges in ~6 rounds instead of 50 (pinned by test).

    Scale shape: every round shuffles only (doc_id, comp) pairs — label
    values are node ids, so the jump join hits the labels table itself, no
    auxiliary structure; lineage is cut per round with an eager
    localCheckpoint (plan trees explode by round 3 otherwise) and the dead
    generation is unpersisted."""
    sym = (
        edges.select(src, dst)
        .unionByName(edges.select(F.col(dst).alias(src), F.col(src).alias(dst)))
        .localCheckpoint(eager=True)
    )
    labels = None  # round 1 derives identity labels from sym itself (below)
    prev_ckpt = None  # the checkpointed frame (unpersist must hit IT)
    iters = 0
    while True:
        iters += 1
        if labels is None:
            # round 1 fused (r6 optimization): with identity labels, the
            # edge join is the edge list itself — every node appears as src
            # of the symmetric list, so min(own id, neighbor ids) is ONE
            # exchange-free-side aggregation over sym; no separate
            # distinct+checkpoint job for the identity frame and no join.
            # _old (the identity label) is the group key itself.
            prop = (
                sym.select(
                    F.col(src).alias("doc_id"),
                    F.least(F.col(src), F.col(dst)).alias("comp"),
                )
                .groupBy("doc_id")
                .agg(F.min("comp").alias("comp"))
                .withColumn("_old", F.col("doc_id"))
            )
        else:
            incoming = sym.join(
                labels.withColumnRenamed("doc_id", src), on=src
            ).select(F.col(dst).alias("doc_id"), "comp")
            # carry the PREVIOUS label through the same aggregation (labels
            # rows are unique per doc_id, so max(_old) over {old, NULL...}
            # recovers it) — the convergence check then reads the round's
            # checkpointed blocks instead of paying a second shuffle join
            # per round (r6 optimization, guide §2.4: one fewer
            # exchange+job per iteration)
            prop = (
                labels.withColumn("_old", F.col("comp"))
                .unionByName(
                    incoming.withColumn(
                        "_old", F.lit(None).cast(labels.schema["comp"].dataType)
                    )
                )
                .groupBy("doc_id")
                .agg(F.min("comp").alias("comp"), F.max("_old").alias("_old"))
            )
        # pointer jump: label values are node ids, so look the label's own
        # label up in the same table and take the min — chains halve
        hop = (
            prop.join(
                prop.select(
                    F.col("doc_id").alias("comp"), F.col("comp").alias("_c2")
                ),
                on="comp",
                how="left",
            )
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce(F.col("_c2"), F.col("comp"))).alias(
                    "comp"
                ),
                "_old",
            )
        )
        new_labels = hop.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("comp") != F.col("_old")).count()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        prev_ckpt = new_labels
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    sym.unpersist()  # dead once the loop converges (labels are frozen)
    return labels, iters


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ann_band_buckets(emb: Column, tables: list | None = None) -> Column:
    """Per-band LSH bucket keys ("band:bits" strings, one per band) — b
    independent sign-bit hash tables of r hyperplanes each.  Bucket count =
    bands × 2^rows scales with the parameters (queries.ann_planes), so
    in-bucket candidate pair counts stay bounded as the corpus grows — the
    multi-table banding fix for the fixed-256-bucket ceiling."""
    # NOTE (measured, don't redo): expanding the dots as explicit 64-term
    # element_at sums looks codegen-friendly but is 6-7x SLOWER here — the
    # 24-plane × 64-dim expression tree blows past the codegen budget and
    # falls back to interpreted eval of a huge tree.  The HOF fold stays.
    # single array LITERALS (F.lit(list)) instead of 64-child CreateArray
    # trees: the query cost for this family is dominated by driver-side
    # planning of the literal tree (constant in data size) — measured ~25%
    # lower fresh-plan latency with array literals
    tables = ANN_TABLES if tables is None else tables
    cols = []
    for b, planes in enumerate(tables):
        bits: Column | None = None
        for r, plane in enumerate(planes):
            d = _dot(emb, F.lit([float(w) for w in plane]))
            term = F.when(d > 0, F.lit(1 << r)).otherwise(F.lit(0))
            bits = term if bits is None else bits + term
        cols.append(F.concat_ws(":", F.lit(str(b)), bits.cast("string")))
    return F.array(*cols)


def embedding_near_dup(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float = 0.95,
    tables: list | None = None,
    keyed: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs through banded LSH: candidate
    pairs only form inside a (band, bucket) cell (recall traded for the
    quadratic blowup — brute-force cosine is queries.q_embedding_topk).

    Scale shape: the bucket self-join carries ONLY (id, bucket) — slim rows;
    distinct pairs are formed before the embeddings are joined back, so the
    arrays never ride the candidate-generation shuffle and each surviving
    pair computes its cosine exactly once.

    ``keyed`` optionally supplies the (id, bucket) rows from a PERSISTED
    index (operators/ann_store.py) — bit-identical to the inline compute,
    and the self-join then reads the bucketed table co-located on both
    sides instead of hashing every vector twice per invocation.

    ``max_bucket_size`` is the hot-bucket skew guard (_bound_hot_groups):
    buckets above the cap are salted into sub-chunks and pairs form only
    within a chunk — bounded ≤ n·cap/2 pairs per bucket with partial
    (within-chunk) recall, surfaced by a RuntimeWarning.  Scaled geometry
    bounds the EXPECTED bucket size, the cap bounds the ADVERSARIAL one (a
    million byte-identical vectors land in one bucket at any geometry)."""
    if keyed is None:
        keyed = df.select(
            F.col(id_col),
            F.explode(ann_band_buckets(F.col(emb_col), tables)).alias("bucket"),
        )
    join_keys = ["bucket"]
    if max_bucket_size is not None:
        keyed = _bound_hot_groups(
            keyed, ["bucket"], id_col, max_bucket_size, "embedding_near_dup"
        )
        join_keys = ["bucket", "_chunk"]
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(b, on=join_keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    norm = F.sqrt(_dot(F.col(emb_col), F.col(emb_col)))
    ea = df.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("_ea"), norm.alias("_na")
    )
    eb = df.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("_eb"), norm.alias("_nb")
    )
    cos = _dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.join(ea, on="id_a")
        .join(eb, on="id_b")
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
