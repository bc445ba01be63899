"""Deduplication operators for training-data pipelines.

Five families, each scale-shaped for 100 TB:

- exact: fingerprint (md5/xxhash of normalized text) → groupBy — one
  shuffle on the hash, no pairwise work.
- n-gram Jaccard: blocked token-inverted-index join → exact Jaccard on
  candidate pairs. Blocking column bounds the candidate set; at scale
  the block is a shard key (source/domain/date).
- MinHash + LSH: signature → banding → bucket join; candidates verified
  with exact Jaccard. Sub-quadratic: pairs only form inside LSH buckets.
- SimHash: 64-bit fingerprint, near-dup = small Hamming distance; bucket
  join on bit-bands.
- Embedding cosine: exact within blocks; the scale path is LSH/IVF
  bucketing (similarity.py) feeding the same verifier.

Everything below is built-in-expression-only (xxhash64, explode,
groupBy, zip_with/aggregate) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import distinct_tokens, fingerprint_md5


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan delivers fewer partitions
    than cores. Single-row-group parquet (the TESTDATA layout; also any
    small-file corner of a real lake) otherwise serializes the heavy
    per-row hashing these operators do onto one task — one cheap
    narrow-row shuffle buys full-cluster fan-out for everything after.
    No-op when the scan is already parallel (the 100 TB case)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 8):
        return df.repartition(target)
    return df


# ---- exact ---------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per normalized-content fingerprint.
    One hash shuffle; output = keeper id + group size."""
    return (
        df.withColumn("__fp", fingerprint_md5(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---- n-gram / token Jaccard ----------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs from a token
    inverted-index join, optionally blocked.

    Plan shape: explode distinct tokens → (optional df-cap) → self-join
    on (block, token) for CANDIDATES only → exact Jaccard via
    array_intersect over the full token sets → filter.

    At 100 TB: the block column keeps the inverted-index join bounded,
    and `max_df` caps token document frequency (one extra groupBy) — a
    single stop-word-like token inside a block otherwise regenerates the
    quadratic blowup blocking was meant to prevent. Because similarity
    is computed over the FULL token sets (not index co-occurrence
    counts), capping affects only recall — a pair is missed only if it
    shares nothing but hot tokens, which at high thresholds implies the
    pair was near-duplicate boilerplate of the hot tokens themselves.
    With max_df=None results are exhaustively exact (the oracle-checked
    configuration).
    """
    keys = [block_col] if block_col else []
    df = _ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"), *[F.col(k) for k in keys],
        distinct_tokens(text_col).alias("ts"),
    )
    # Explode the token expression INLINE, not the `ts` alias:
    # InferFiltersFromGenerate only infers its (size(e)>0 AND
    # isnotnull(e)) pre-filter when the generator child is a bare
    # attribute, and predicate pushdown then substitutes the alias —
    # planting a full array_distinct(split(...)) evaluation inside the
    # scan-side Filter of every branch (r9 final-plan audit: one extra
    # corpus tokenize per run, on top of the explode's own). The
    # inline child dodges the rule; explode drops empty-array rows
    # itself, so the row set is identical.
    inv = df.select(
        F.col(id_col).alias("id"), *[F.col(k) for k in keys],
        F.explode(distinct_tokens(text_col)).alias("tok"),
    )
    if max_df is not None:
        hot = (
            inv.groupBy(*keys, "tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select(*keys, "tok")
        )
        inv = inv.join(hot, [*keys, "tok"], "left_anti")
    a = inv.select(F.col("id").alias("id_a"), *[F.col(k).alias(f"{k}_a") for k in keys], "tok")
    b = inv.select(F.col("id").alias("id_b"), *[F.col(k).alias(f"{k}_b") for k in keys], "tok")
    cond = a["tok"] == b["tok"]
    for k in keys:
        cond = cond & (F.col(f"{k}_a") == F.col(f"{k}_b"))
    # Shared-token COUNTS straight off the co-occurrence join (map-side
    # partial agg on narrow rows). vs the previous distinct() + two
    # array-payload joins + per-pair array_intersect: the groupBy IS the
    # dedup, carries no token arrays, and — because `inv` explodes
    # DISTINCT token sets — count(*) per pair equals
    # size(array_intersect) exactly. Measured ~5× at sf0.1 (10-13 s → 2.0-2.7 s, worst-case 86 s spike eliminated)
    # (BENCH_NOTES r4) and strictly less shuffled data at any scale.
    pair_common = (
        a.join(b, cond & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if max_df is None:
        # Token-set sizes come from the SAME uncapped inverted index
        # (|ts| = exact per-id row count — `inv` explodes DISTINCT
        # sets), not from a separate size(ts) scan branch: the old
        # branch re-tokenized the corpus twice more (the jac>=t
        # constraint inferred isnotnull(n) and pushdown substituted
        # the full size(array_distinct(split(...))) subtree into that
        # scan's Filter), and ids with zero tokens cannot appear in
        # pair_common anyway, so the join result is identical.
        sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
        nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
        # index is complete → the count is the exact intersection size
        return (
            pair_common.join(na, "id_a").join(nb, "id_b")
            .withColumn(
                "jac",
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
            )
            .filter(F.col("jac") >= threshold)
            .select("id_a", "id_b", "jac")
        )
    # df-capped index: counts miss the dropped hot tokens, so they are
    # only CANDIDACY evidence; similarity is re-verified over the FULL
    # token sets (similarity exact, cap affects recall only — the
    # documented contract).
    ta = toks.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    return (
        pair_common.select("id_a", "id_b")
        .join(ta, "id_a").join(tb, "id_b")
        .withColumn("common", F.size(F.array_intersect("ts_a", "ts_b")))
        .withColumn(
            "jac",
            F.col("common").cast("double")
            / (F.size("ts_a") + F.size("ts_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def _bucket_pairs(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int = 1024
) -> DataFrame:
    """(id, bucket) rows → distinct candidate (id_a < id_b) pairs that
    share a bucket. ONE groupBy shuffle + in-bucket pair expansion —
    not a bucket self-join, which would execute the whole upstream
    subtree twice (both join inputs) and shuffle it twice. LSH bucket
    membership is small by construction when banding parameters fit the
    corpus, BUT a degenerate band value (e.g. near-empty documents all
    hashing one band) would otherwise put an O(n²) pair array on a
    single executor row — an OOM, not a slowdown. `max_bucket` guards
    that: buckets larger than the cap are excluded from pair expansion
    (1024 ids → ≤ ~0.5M pair structs ≈ 8 MB, the largest cell we allow).
    Like `jaccard_pairs(max_df=...)`, the cap affects RECALL only and
    only for pairs whose every shared bucket is degenerate; use
    `bucket_overflow(...)` on the same banded input to count/log what
    was dropped (no silent truncation at scale)."""
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def bucket_overflow(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int = 1024
) -> DataFrame:
    """Accounting companion to `_bucket_pairs`: one row per bucket that
    exceeded `max_bucket` (its key columns + member count), so pipelines
    can log/emit exactly what the hot-bucket guard dropped instead of
    truncating silently. Same single groupBy shuffle shape."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.countDistinct("id").alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket)
    )


# ---- MinHash + LSH --------------------------------------------------------

def word_shingles(text_col: str, k: int = 3) -> Column:
    """k-word shingles via the (element, index)-less sequence transform.
    Column-expression reference form (tests / ad-hoc use); the dedup hot
    path uses `shingle_rows` — this lambda captures `toks`, which the
    interpreted higher-order evaluator re-evaluates per element
    (BENCH_NOTES r4). Docs with fewer than k tokens yield one head
    shingle of all their tokens (try_element_at: ANSI-safe, concat_ws
    skips the nulls)."""
    toks = F.split(F.lower(F.col(text_col)), r" +")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.try_element_at(toks, i + j + 1) for j in range(k)]))
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, pos, s) — one row per k-word shingle POSITION of the
    lowercased text (duplicates retained; MIN/collect_set consumers are unaffected).

    Assembly is a per-row array transform over an ATTRIBUTE-captured
    token array: the text is split ONCE per document into a dedicated
    projection column (`__toks`), and the k-gram lambda reads that
    attribute with try_element_at — O(k) per shingle. This avoids BOTH
    historical failure modes:

    - `word_shingles`' lambda captured the `split` SUBTREE, and the
      interpreted higher-order evaluator re-evaluates captured
      expressions PER ELEMENT — the whole split re-ran per shingle,
      O(tokens²) per document (thread-dump-verified, BENCH_NOTES r4).
      Capturing a bound attribute instead is an O(1) row-field read;
      `__toks` is multi-referenced (sequence bound + k element_ats) so
      CollapseProject keeps it materialized in its own Project below
      the Generate.
    - the r4–r8 row form assembled k-grams from `lead` windows, which
      required a full (id, pos) exchange + sort of the raw token
      stream before any shingle existed (r9 plan dumps: a Window node
      in every shingle consumer). The transform form shingles straight
      off the scan; downstream groupBy(id) consumers now ship partial
      aggregates into their exchange instead of raw tokens.

    Docs with fewer than k tokens keep exactly one head shingle of all
    their tokens (concat_ws skips nulls past the end), and empty/NULL
    text yields the '' shingle, so every document appears — identical
    row set to the lead-window form (differentially A/B'd at sf0.1).

    The explicit hash exchange on id (when the scan is under-parallel)
    is REUSED by the downstream aggregations (signature mins,
    verify-set collect) — one exchange for the whole left side of the
    dedup plan; on an already-parallel scan no exchange is needed at
    all.

    Memory bound (pinned by test_pipeline.py::
    test_shingle_and_span_ops_handle_multi_mb_single_document): the
    gram array materializes per ROW before posexplode, so transient
    task memory is ≈ k× the document size — bounded by the largest
    document, never by the corpus. A pathological multi-MB single-line
    document costs k× its own size in one task; that is an executor
    sizing fact, not a scale ceiling."""
    narrow = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    target = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < min(target, 8):
        narrow = narrow.repartition(target, "id")
    toksed = narrow.select("id", F.split("__t", r" +").alias("__toks"))
    n = F.size("__toks")
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(F.col("__toks"), i + j + 1) for j in range(k)]
        ),
    )
    return toksed.select("id", F.posexplode(grams).alias("pos", "s"))


def minhash_signatures(sh_rows: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, pos, s) shingle rows → (id, sig array<long>) MinHash signatures,
    Carter-Wegman style: hash every shingle ONCE with two independent
    xxhash64 seeds, then derive the j-th hash family as h1' + j·h2'
    (2-universal — the standard replacement for num_hashes independent
    full hash passes). h1 is folded to 62 bits and h2 to 31 so
    h1' + 63·h2' can never overflow a long (ANSI-safe; hash quality is
    unaffected for min-comparison purposes).

    Plan shape: num_hashes plain MIN aggregates over the shingle rows —
    everything inside whole-stage codegen with map-side partial
    aggregation, and NO exchange at all when the input is already
    hash-partitioned by id (shingle_rows arranges this). The previous
    formulation (one higher-order aggregate fold updating a 64-slot
    array per shingle) was algorithmically identical but INTERPRETED,
    allocating a fresh 64-long array per shingle step (BENCH_NOTES r4;
    the codegen-over-HOF lesson recorded in r3 applied to its own op)."""
    hashed = sh_rows.select(
        "id",
        F.shiftrightunsigned(F.xxhash64("s"), 2).alias("h1"),
        F.shiftrightunsigned(F.xxhash64("s", F.lit(1)), 33).alias("h2"),
    )
    mins = [
        F.min(F.col("h1") + j * F.col("h2")).alias(f"_m{j}")
        for j in range(num_hashes)
    ]
    return (
        hashed.groupBy("id")
        .agg(*mins)
        .select(
            "id", F.array(*[f"_m{j}" for j in range(num_hashes)]).alias("sig")
        )
    )


def _band_rows(sig_rows: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) rows from MinHash signature rows — the
    LSH banding shared by the pairwise path (minhash_lsh_pairs) and the
    persisted-index path (minhash_index_rows / minhash_index_probe).
    Band rows carry (id, band) ONLY: the shingle arrays would otherwise
    ride the explode ×bands through the bucket shuffle (bands× the
    heaviest column); consumers join text back only for survivors."""
    rows = num_hashes // bands
    return sig_rows.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.xxhash64(F.concat_ws(",", *[
                        F.element_at("sig", b * rows + r + 1)
                        for r in range(rows)
                    ])).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band_id", "bb.band_hash")


def minhash_index_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The PERSISTABLE near-dup index: (id, band_id, band_hash) rows
    for a corpus — the incremental half of MinHash+LSH dedup that
    `dedup_bloom_incremental` provides for EXACT duplicates.

    100 TB workflow: compute once at ingest and save as a table
    (bucket/sort by (band_id, band_hash) so later probes satisfy their
    join clustering straight off the scan — sources/bucketing.py);
    each new batch then calls minhash_index_probe, which bands ONLY the
    batch and equi-joins the index: the corpus is never re-scanned,
    re-shingled, or re-shuffled, and the index is bands× the corpus
    ROW count but only 3 small columns wide."""
    sh = shingle_rows(df, id_col, text_col, shingle_k)
    return _band_rows(minhash_signatures(sh, num_hashes), num_hashes, bands)


def minhash_index_probe(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_texts: DataFrame | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Probe an incremental batch against a persisted LSH index
    (minhash_index_rows output, read back from its table): band the
    BATCH ONLY, equi-join (band_id, band_hash) into the index, and
    emit distinct (batch_id, corpus_id) candidates. With
    `verify_texts` (the corpus id/text), candidates are exact-Jaccard
    verified at `threshold` — the corpus side is LEFT-SEMI filtered to
    candidate ids BEFORE shingling, so verification cost scales with
    the candidate set, not the corpus."""
    sh_b = shingle_rows(batch, id_col, text_col, shingle_k)
    banded_b = _band_rows(minhash_signatures(sh_b, num_hashes),
                          num_hashes, bands)
    cand = (
        banded_b.select(F.col("id").alias("batch_id"), "band_id", "band_hash")
        .join(index.select(F.col("id").alias("corpus_id"),
                           "band_id", "band_hash"),
              ["band_id", "band_hash"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    if verify_texts is None:
        return cand
    hit_corpus = verify_texts.join(
        cand.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col, "left_semi")
    sh_c = shingle_rows(hit_corpus, id_col, text_col, shingle_k)
    sets_b = (sh_b.groupBy("id").agg(F.collect_set("s").alias("sh_a"))
              .withColumnRenamed("id", "batch_id"))
    sets_c = (sh_c.groupBy("id").agg(F.collect_set("s").alias("sh_b"))
              .withColumnRenamed("id", "corpus_id"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sets_b, "batch_id").join(sets_c, "corpus_id")
        .withColumn("jac", inter / union)
        .filter(F.col("jac") >= threshold)
        .select("batch_id", "corpus_id", "jac")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    verify: bool = True,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs via MinHash banding.

    bands=16 × rows=4 over 64 hashes → collision prob ≈ 1-(1-s⁴)¹⁶,
    steep around s≈0.5-0.6; verify=True re-checks candidates with exact
    shingle Jaccard ≥ threshold. Scale shape: candidates only form
    within equal (band_id, band_hash) buckets — the standard
    sub-quadratic path; no cross join anywhere. `max_bucket` guards
    degenerate hot buckets (see _bucket_pairs).
    """
    sh_rows = shingle_rows(df, id_col, text_col, shingle_k)
    sig_rows = minhash_signatures(sh_rows, num_hashes)
    banded = _band_rows(sig_rows, num_hashes, bands)
    cand = _bucket_pairs(banded, ["band_id", "band_hash"], max_bucket=max_bucket)
    if not verify:
        return cand
    # Exact-Jaccard verify sets, built from the SAME shingle rows
    # (collect_set is the distinct step) — no second interpreted
    # shingling pass; the id partitioning from shingle_rows is reused.
    # The verify joins are null-safe (r10, guide §7.2 — the same
    # IsNotNull-pushdown disease semantic_dedup had): a plain inner
    # equi-join on id_a/id_b makes the optimizer infer IsNotNull and
    # push it into each sh_sets branch, which makes those subtrees
    # differ from the signature branch — ReuseExchange stops firing and
    # the corpus is scanned+shingled once PER branch (3× total,
    # plan-verified in plans/r10/pipe_dedup_minhash_before.txt: 3
    # documents scans). cand ids are provably never NULL (the
    # id_a < id_b pair filter evaluates NULL to false), and a NULL
    # sh_sets id matches a non-NULL cand id under neither operator, so
    # the join pairs are identical while EqualNullSafe triggers no
    # inference — all three branches re-read one exchange.
    sh_sets = sh_rows.groupBy("id").agg(F.collect_set("s").alias("sh"))
    sh_a = sh_sets.select(F.col("id").alias("__ia"), F.col("sh").alias("sh_a"))
    sh_b = sh_sets.select(F.col("id").alias("__ib"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sh_a, F.col("id_a").eqNullSafe(F.col("__ia")))
        .join(sh_b, F.col("id_b").eqNullSafe(F.col("__ib")))
        .withColumn("jac", inter / union)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


# ---- SimHash --------------------------------------------------------------

def simhash64(text_col: str) -> Column:
    """64-bit SimHash: per token hash, each bit votes ±1; fingerprint bit
    = sign of the vote sum. ONE aggregate fold over the token hashes
    updating all 64 vote slots per token, with the fingerprint assembled
    in the finish lambda. Unlike the MinHash shingling this fold's
    lambdas capture only the element and a literal mask array, so the
    interpreted evaluator does no per-element re-evaluation of heavy
    subtrees — and an interleaved A/B against an explode + 64-SUM-column
    row formulation measured the fold 3× FASTER (0.8 s vs 2.6 s at
    sf0.1, BENCH_NOTES r4: the row form pays a 1.5M-row shuffle the
    fold avoids). Bit i is tested with a precomputed mask literal
    (shiftright's numBits arg must be a Python int, not a Column); bit
    63's mask is the sign-bit pattern -2⁶³."""
    toks = distinct_tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = F.array(*[
        F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)
    ])
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
        lambda acc: F.aggregate(
            F.zip_with(
                acc, masks,
                lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, b: a.bitwiseOR(b),
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp) rows for the simhash family. The fold formulation was
    re-A/B'd against an exploded-token + 64-codegen-SUM row form in r10
    (OPTIMIZATION_r10.md §3, VERDICT r9 #3): the fold stayed 4-6× faster
    at sf0.1 even under the new shared-exchange input (noop best 0.38 s
    vs 2.15 s) — the r4 result did not invert, the row form's 1.5M-row
    explode + 64 aggregate buffers costs more than the interpreted
    zip_with saves. Not promoted."""
    return _ensure_parallelism(df).select(
        F.col(id_col).alias("id"), simhash64(text_col).alias("fp")
    )




def _simhash_banded(base: DataFrame, bands: int) -> DataFrame:
    """(id, fp) → one LEAN row per (id, band): band_id, band_val only.
    Sub-band keys (hot-bucket recovery) are NOT precomputed here — they
    are a pure function of (fp, band_id) and are derived post-exchange
    for overflow rows only via `_sub_keys_expr`, so the band-key
    exchange carries 4 narrow columns instead of a per-row struct array
    (r9 optimization: the subs array tripled exchanged row width and
    was discarded unread for every healthy bucket)."""
    width = 64 // bands
    mask = F.lit((1 << width) - 1).cast("long")
    structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftrightunsigned("fp", b * width).bitwiseAND(mask).alias("band_val"),
        )
        for b in range(bands)
    ]
    return (
        base.select("id", "fp", F.explode(F.array(*structs)).alias("bb"))
        .select("id", "fp", "bb.band_id", "bb.band_val")
    )


def _sub_keys_expr(bands: int, max_hamming: int) -> Column:
    """array<struct<sub_id,sub_val>> of the sub-band keys of the OTHER
    64−width bits for the row's (`fp`, `band_id`) — the hot-bucket
    recovery keys. Sub-band partitioning keeps the pigeonhole
    guarantee: a pair in an overflowed (band b) bucket agrees on band b
    exactly, so its ≤ max_hamming differing bits all live in the
    remaining bits — carving those into max_hamming+1 disjoint
    sub-bands forces ≥1 sub-band equal. band_id is data here (the rows
    already rode the band exchange), so the per-band Python-literal
    shift expressions are selected by a CASE chain; everything is
    JVM-codegen'd, no Python UDFs."""
    width = 64 // bands
    rem_bits = 64 - width
    n_subs = max_hamming + 1
    sub_w = rem_bits // n_subs
    # sub-band s covers remaining-bit span [offs[s], offs[s+1]); the last
    # span absorbs the remainder so the sub-bands PARTITION all bits
    offs = [s * sub_w for s in range(n_subs)] + [rem_bits]
    expr = None
    for b in range(bands):
        hi_shift, low_bits = (b + 1) * width, b * width
        low_mask = F.lit((1 << low_bits) - 1).cast("long")
        if hi_shift >= 64:
            rem = F.col("fp").bitwiseAND(low_mask)
        elif low_bits == 0:
            rem = F.shiftrightunsigned("fp", hi_shift)
        else:
            rem = F.shiftleft(
                F.shiftrightunsigned("fp", hi_shift), low_bits
            ).bitwiseOR(F.col("fp").bitwiseAND(low_mask))
        subs = F.array(*[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.shiftrightunsigned(rem, offs[s])
                .bitwiseAND(F.lit((1 << (offs[s + 1] - offs[s])) - 1).cast("long"))
                .alias("sub_val"),
            )
            for s in range(n_subs)
        ])
        expr = (F.when(F.col("band_id") == b, subs) if expr is None
                else expr.when(F.col("band_id") == b, subs))
    return expr


def _bucket_pairs_hamming(
    banded: DataFrame,
    bucket_cols: list[str],
    max_hamming: int,
    max_bucket: int = 1024,
    distinct: bool = True,
) -> DataFrame:
    """_bucket_pairs for SimHash: (id, fp, bucket) rows → candidate
    (id_a, id_b, hamming) pairs with the Hamming test applied INSIDE
    the in-bucket pair array, before any explode. Carrying fp through
    the collect avoids the generic form's two id→fp join-backs AND
    shrinks the exploded/deduped volume to the survivors only — at
    sf0.1 the template-clustered documents table emits 1.26M raw
    candidates but only ~0.4M with Hamming ≤ 3 (measured; the join-back
    form shuffled all 1.26M twice and distinct'd them once more).

    Memory bound: a bucket at exactly max_bucket members materializes
    C(max_bucket, 2) ≈ max_bucket²/2 pair-structs inside ONE aggregated
    row before the explode (~524k structs ≈ tens of MB at the default
    1024) — the per-row executor-memory cost grows QUADRATICALLY in
    max_bucket, so raise it deliberately. Pinned at the default by
    test_pipeline.py::test_simhash_max_bucket_pair_array_bound."""
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("xs"),
                lambda x, i: F.transform(
                    F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"), y["id"].alias("id_b"),
                        F.bit_count(x["fp"].bitwiseXOR(y["fp"])).alias("hamming"),
                    ),
                ),
            )
        ),
        lambda p: (p["id_a"] < p["id_b"]) & (p["hamming"] <= max_hamming),
    )
    out = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(F.struct("id", "fp"))).alias("xs"))
        .filter((F.size("xs") > 1) & (F.size("xs") <= max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
    )
    # distinct=False for callers that union several banded branches and
    # dedup ONCE after the union (r10: one exchange per branch saved;
    # A/B −3-4% at sf0.1, pair sets identical) — the per-branch
    # distinct was immediately re-deduped by the union's distinct.
    return out.distinct() if distinct else out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via 16-bit
    band bucketing (pigeonhole: distance ≤3 ⇒ ≥1 of 4 bands equal),
    with RECURSIVE SUB-BANDING for hot buckets: a band bucket larger
    than `max_bucket` is not dropped (the r5 scale ceiling — at 10B docs
    EVERY 16-bit bucket holds ~150k ids and naive capping collapses
    recall exactly where the op matters) but re-partitioned by
    max_hamming+1 disjoint sub-bands of the remaining 48 bits, which
    preserves the pigeonhole guarantee (see _simhash_banded) while
    shrinking the worst cell ~2^12×. Pairs drop only when a SUB-bucket
    still overflows — count them with `simhash_overflow(...)`.

    Exchanges: one tiny bounded agg (≤ bands·2^width rows, broadcast
    back), then one groupBy over healthy rows + one over overflow rows —
    together the same volume as the single groupBy of the naive form."""
    return simhash_pairs_from_fps(
        _simhash_base(df, id_col, text_col), max_hamming, bands, max_bucket
    )


def simhash_pairs_from_fps(
    base: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """simhash_pairs' banding/pairing stage over precomputed (id, fp)
    rows — split out so hot-bucket recall is testable on synthetic
    fingerprint fixtures (test_pipeline.py plants a bucket where every
    member shares one band and asserts sub-banding recovers the pairs).

    The explicit hash repartition pins an exchange ABOVE whatever
    produced `base` — for simhash_pairs that is the simhash64 fold, the
    op's dominant per-row cost — so the census and both tag consumers
    below re-read its shuffle output (ReusedExchange) instead of each
    re-executing the producer subtree. The exchange carries n narrow
    (id, fp) rows: 16 bytes/row at any corpus size, orders cheaper than
    one extra corpus scan+fold."""
    sc = base.sparkSession.sparkContext
    return _simhash_pairs_core(
        base.repartition(sc.defaultParallelism, "id"),
        max_hamming, bands, max_bucket,
    )


def _simhash_census_hot(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The (band_id, band_val) keys of buckets holding more than
    max_bucket rows. A plain COUNT aggregate: map-side partial
    aggregation condenses even a degenerate hot key to one row per map
    task before anything crosses the wire — no bucket's row set ever
    co-locates for the census. Output is doubly bounded: ≤ bands·2^width
    distinct keys exist at all (262,144 at the default 4×16-bit bands),
    and only keys with > max_bucket members survive (≤ rows/max_bucket),
    so the broadcast build side stays a few MB at any corpus size."""
    return (
        banded.groupBy("band_id", "band_val")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        # fresh aliases: the hot side derives FROM banded, so its key
        # columns would otherwise carry the same expression ids as the
        # probe side's and the tag join condition would be ambiguous
        .select(F.col("band_id").alias("__hot_band"),
                F.col("band_val").alias("__hot_val"))
    )


def _hot_cond() -> Column:
    """Join condition for the hot-key tag joins. band_val is null-safe:
    a NULL fp (NULL source text) bands to NULL band_val, and the window
    census it replaces counted that bucket like any other — a plain
    equi-join would silently divert a hot NULL bucket to the healthy
    branch instead of sub-banding it."""
    return (F.col("band_id") == F.col("__hot_band")) & (
        F.col("band_val").eqNullSafe(F.col("__hot_val"))
    )


def _simhash_pairs_core(
    base: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Banding/pairing over (id, fp) rows whose producing plan ends in
    a reusable exchange (see callers).

    r10 shape (guide §2.5 skew): bucket sizes come from a bounded
    census AGGREGATE + broadcast hot-key anti/semi joins, not the r9
    `count(1) OVER (PARTITION BY band_id, band_val)` window. The window
    rode the band exchange but shipped EVERY row of a bucket to one
    task and sorted it before the overflow split could fire — a
    degenerate band value (near-constant fingerprints: templated or
    empty documents) serialized a corpus-scale bucket onto one executor.
    Now nothing ever co-locates a whole bucket: the census partial-aggs
    map-side (_simhash_census_hot), the tag joins are broadcast
    (map-side, one tiny build reused by both), the healthy branch's
    groupBy cells are ≤ max_bucket by construction, and hot rows cross
    their exchange already spread over (max_hamming+1) sub-band keys.
    The fp fold still runs exactly once: census and both tag branches
    re-read the exchange under `base` (ReusedExchange, plan-pinned in
    test_plans.py)."""
    banded = _simhash_banded(base, bands)
    hot = _simhash_census_hot(banded, max_bucket)
    healthy = banded.join(F.broadcast(hot), _hot_cond(), "left_anti")
    cand_ok = _bucket_pairs_hamming(
        healthy.select("id", "fp", "band_id", "band_val"),
        ["band_id", "band_val"], max_hamming, max_bucket=max_bucket,
        distinct=False,
    )
    sub = (
        banded.join(F.broadcast(hot), _hot_cond(), "left_semi")
        .select("id", "fp", "band_id", "band_val",
                F.explode(_sub_keys_expr(bands, max_hamming)).alias("sb"))
        .select("id", "fp", "band_id", "band_val", "sb.sub_id", "sb.sub_val")
    )
    cand_sub = _bucket_pairs_hamming(
        sub, ["band_id", "band_val", "sub_id", "sub_val"], max_hamming,
        max_bucket=max_bucket, distinct=False,
    )
    # fp travels through the collect, so the Hamming test runs inside
    # the pair arrays and the old id→fp join-backs (two shuffles of the
    # full candidate set) disappear; ONE distinct after the union dedups
    # both within-branch (cross-band) and cross-branch duplicates — the
    # per-branch distincts it replaces were pure extra exchanges
    return cand_ok.unionByName(cand_sub).distinct()


def simhash_index_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
) -> DataFrame:
    """The persistable SimHash near-dup index — (id, fp, band_id,
    band_val) rows — the Hamming-distance sibling of
    `minhash_index_rows` (same ingest-once / probe-batches workflow;
    the fp column travels so the probe's Hamming test needs no join
    back to the corpus). At 100 TB: save bucketed by (band_id,
    band_val); a probe's equi-join then clusters off the scan, and a
    hot band bucket is ordinary join skew AQE splits (the pairwise
    path's sub-banding exists for the in-bucket PAIR explosion, which
    a probe join never materializes)."""
    return _simhash_banded(_simhash_base(df, id_col, text_col), bands)


def simhash_index_probe(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Probe an incremental batch against a persisted SimHash index:
    band the BATCH ONLY, equi-join (band_id, band_val) into the index
    (pigeonhole: Hamming ≤ max_hamming with bands > max_hamming ⇒ ≥1
    band equal ⇒ guaranteed recall), Hamming-test the fp pair on the
    joined row, distinct. Returns (batch_id, corpus_id, hamming). The
    corpus is never re-scanned or re-hashed."""
    b = _simhash_base(batch, id_col, text_col)
    banded_b = _simhash_banded(b, bands).select(
        F.col("id").alias("batch_id"), F.col("fp").alias("fp_b"),
        "band_id", "band_val")
    return (
        banded_b.join(
            index.select(F.col("id").alias("corpus_id"),
                         F.col("fp").alias("fp_c"), "band_id", "band_val"),
            ["band_id", "band_val"])
        .withColumn("hamming",
                    F.bit_count(F.col("fp_b").bitwiseXOR(F.col("fp_c"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("batch_id", "corpus_id", "hamming")
        .distinct()
    )


def simhash_overflow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Accounting for simhash_pairs' only lossy path: SUB-buckets (after
    hot-bucket sub-banding) that still exceed max_bucket. Mirrors
    bucket_overflow's contract — one row per dropped cell with its
    member count, so pipelines log exactly what was truncated."""
    return simhash_overflow_from_fps(
        _simhash_base(df, id_col, text_col), max_hamming, bands, max_bucket
    )


def simhash_overflow_from_fps(
    base: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """simhash_overflow over precomputed (id, fp) rows — split out (like
    simhash_pairs_from_fps) so the documented drop-with-accounting
    behavior of a DOUBLE overflow (a sub-bucket of a hot bucket itself
    exceeding max_bucket) is testable on planted fingerprint fixtures."""
    sc = base.sparkSession.sparkContext
    return _simhash_overflow_core(
        base.repartition(sc.defaultParallelism, "id"),
        max_hamming, bands, max_bucket,
    )


def _simhash_overflow_core(
    base: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Same r10 skew-proof census as _simhash_pairs_core: hot buckets
    from the bounded aggregate + broadcast semi join, not a count
    window (see _simhash_pairs_core for why)."""
    banded = _simhash_banded(base, bands)
    hot = _simhash_census_hot(banded, max_bucket)
    sub = (
        banded.join(F.broadcast(hot), _hot_cond(), "left_semi")
        .select("id", "band_id", "band_val",
                F.explode(_sub_keys_expr(bands, max_hamming)).alias("sb"))
        .select("id", "band_id", "band_val", "sb.sub_id", "sb.sub_val")
    )
    return bucket_overflow(
        sub, ["band_id", "band_val", "sub_id", "sub_val"], max_bucket=max_bucket
    )


def write_index(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a near-dup index (minhash_index_rows / simhash_index_rows
    output) with right-sized files. The index plan ends in a band
    explode over the signature aggregate, so a bare write emits one
    file per post-agg partition — shuffle.partitions-many shards
    regardless of volume (measured at sf0.1: 32 files × ~12 KB,
    guide §6's small-files problem; at 100 TB the same plan writes
    thousands of undersized files per batch). The REBALANCE hint lets
    AQE pack write partitions to advisoryPartitionSizeInBytes instead:
    file count follows data volume, not the shuffle-partition constant
    — scale-adaptive with no tuned numbers here."""
    df.hint("rebalance").write.mode(mode).parquet(path)


# ---- embedding cosine -----------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine ≥ threshold pairs, exact within blocks. Without block_col
    this is O(n²) — callers at scale pass an LSH bucket column from
    similarity.hyperplane_bucket as the block."""
    from .similarity import dot, norm, safe_cos

    keys = [block_col] if block_col else []
    # Per-row norm folded ONCE before the pair expansion (same
    # left-to-right double math as folding inside cosine(), bit-identical
    # result, 3x fewer interpreted array folds per pair).
    v = df.select(
        F.col(id_col).alias("id"), *keys,
        F.col(vec_col).alias("v"), norm(F.col(vec_col)).alias("n"),
    )
    a = v.select(F.col("id").alias("id_a"), *[F.col(k).alias(f"{k}_a") for k in keys], F.col("v").alias("va"), F.col("n").alias("na"))
    b = v.select(F.col("id").alias("id_b"), *[F.col(k).alias(f"{k}_b") for k in keys], F.col("v").alias("vb"), F.col("n").alias("nb"))
    cond = F.col("id_a") < F.col("id_b")
    for k in keys:
        cond = cond & (F.col(f"{k}_a") == F.col(f"{k}_b"))
    pairs = a.join(b, cond)
    # Re-spread the candidate pairs before the cosine projection: the
    # block join has at most |blocks| meaningful partitions (and AQE
    # happily coalesces a few-MB join output to ONE), while the cosine
    # is the expensive part — interpreted per-element array math. The
    # round-robin exchange is tiny relative to the compute it fans out.
    pairs = pairs.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return (
        pairs
        .withColumn(
            "cos", safe_cos(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, span_w: int = 10,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """C4-style repeated-span screening (Raffel et al. 2020 §2.2 removed
    any three-sentence span occurring more than once in the corpus;
    token-chunk variant here since the corpus has no sentence marks):
    split each document into disjoint `span_w`-token chunks, fingerprint
    each chunk, count every fingerprint CORPUS-WIDE, and score documents
    by the fraction of their spans that also occur elsewhere.

    Output: (id, n_spans, n_dup_spans, dup_frac, keep) — one row per
    document; `keep` = dup_frac <= max_dup_frac.

    Plan shape: chunks are the stride-`span_w` subset of the codegen
    shingle rows (pos % span_w == 0, full windows only — the trailing
    partial chunk is dropped, while sub-`span_w` docs keep their single
    head chunk, exactly `shingle_rows`' short-doc clamp). One global
    groupBy on the span fingerprint (count per distinct span — the
    corpus-wide duplicate table a 100 TB build materializes once), one
    groupBy back on id. A span duplicated WITHIN one document also
    counts as duplicated — the C4 rule is occurrence count, not
    distinct-document count."""
    spans = (
        shingle_rows(df, id_col, text_col, span_w)
        .filter(F.col("pos") % span_w == 0)
        .select("id", F.md5("s").alias("fp"))
    )
    fp_counts = spans.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        spans.join(fp_counts, "fp")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_occ") > 1).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
        )
        .withColumn("keep", F.col("dup_frac") <= max_dup_frac)
    )


def span_scrub(
    df: DataFrame, id_col: str, text_col: str, span_w: int = 10,
) -> DataFrame:
    """Exact-substring REMOVAL with text reconstruction — the rewrite
    half of the C4 rule that span_dedup_stats only scores (Raffel et
    al. 2020 §2.2 "we discarded all but one of any three-sentence span
    occurring more than once"; Lee et al. 2021, arXiv:2107.06499, cut
    the duplicated substring rather than the document). Each document
    is split into disjoint `span_w`-token chunks (the trailing partial
    chunk INCLUDED — unlike the scoring op, a rewrite must cover every
    token), each chunk is fingerprinted, and every occurrence of a
    fingerprint except the corpus-wide first (ordered by (id, pos) —
    deterministic, engine-independent) is cut; the survivors are
    stitched back together in token order.

    Output: (id, n_spans, n_cut, text_scrubbed) — one row per document;
    documents whose every chunk was cut come back with ''.

    Plan shape at 100 TB: chunk assembly is the same codegen
    lead-window trick as shingle_rows (split once per document, no
    higher-order lambdas), riding the id hash exchange; the duplicate
    table is ONE row_number window over the fp exchange — and that
    exchange carries one row per span_w tokens, 1/W of the token
    stream (no per-shingle blowup); the rebuild is one groupBy(id)
    whose collect_list holds only the document's own chunks (bounded
    by document length, not corpus). Three token-volume-bounded
    exchanges total, nothing pairwise, nothing driver-side."""
    from pyspark.sql import Window

    narrow = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    narrow = _ensure_parallelism(narrow)
    # Chunk assembly is the same attribute-captured array transform as
    # shingle_rows (r9: replaces a lead-window over the exploded token
    # stream — one full (id, pos) exchange + sort gone), STRIDED: the
    # index sequence steps by span_w so only chunk-start positions are
    # generated at all. try_element_at past the end yields NULLs that
    # concat_ws skips, so the last stride yields the partial tail
    # chunk; a sub-W document keeps its single pos==0 head chunk;
    # empty/NULL text yields one ''. `pos` is the token position of
    # the chunk start (i·span_w), exactly the old form's surviving
    # pos values — the keeper window's (id, pos) order is unchanged.
    toksed = narrow.select("id", F.split("__t", r" +").alias("__toks"))
    n = F.size("__toks")
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(span_w))
    chunk = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ",
                *[F.try_element_at(F.col("__toks"), i + j + 1)
                  for j in range(span_w)]
            ).alias("ck"),
        ),
    )
    chunks = (
        toksed.select("id", F.explode(chunk).alias("c"))
        .select("id", "c.pos", "c.ck")
    )
    wfp = Window.partitionBy(F.md5("ck")).orderBy("id", "pos")
    marked = chunks.withColumn("rn", F.row_number().over(wfp))
    kept = F.when(F.col("rn") == 1, F.struct("pos", "ck"))
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_cut"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["ck"]
                ),
                " ",
            ).alias("text_scrubbed"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    eps: float = 0.3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    cluster the embedding space, pick one representative ("keeper") per
    cluster, and mark as semantic duplicates the rows whose cosine to
    their cluster keeper is >= eps.

    Constructive-deterministic centroid contract: the K lowest-id rows
    ARE the centroids (no sampled k-means), so the whole pipeline is a
    pure function of the table and a DuckDB oracle can mirror it
    row-for-row — the same contract trick dedup_minhash uses. A
    production run would swap learn_centroids() in (same downstream
    shape) and scale K ~ sqrt(N) so clusters stay bounded.

    Plan shape at 100 TB: the K centroid vectors and the K keeper rows
    are driver/broadcast-sized; cluster assignment and the dup test are
    per-row map work over ONE corpus scan; the only exchange is the
    K-group keeper aggregate whose partial (map-side) combine ships one
    candidate row per partition per cluster. The corpus itself never
    shuffles.

    Output: (id, cluster, cos_keeper, keep) — keepers always keep;
    zero-norm rows have NULL cosine (safe_cos) and are kept (undefined
    similarity is not evidence of duplication).
    """
    from .similarity import dot, norm, safe_cos

    cents = [
        (i, list(r[1]))
        for i, r in enumerate(
            df.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.col(id_col))
            .limit(k)
            .collect()
        )
    ]
    vec = F.col("__v")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
    )
    # nearest centroid by cosine; ties -> lowest cluster index (the
    # array_sort on (-cos, idx) pairs; identical double folds on both
    # engines make the ordering bit-identical)
    # zero-norm rows: undefined cosine coalesces to -2.0 (below any
    # real cosine) so assignment stays deterministic on both engines
    sims = F.array(*[
        F.coalesce(
            safe_cos(
                dot(vec, F.array(*[F.lit(x) for x in c])),
                F.col("__n"),
                F.lit(_py_norm(c)),
            ),
            F.lit(-2.0),
        ).alias(f"s{i}")
        for i, c in cents
    ])
    pairs = F.transform(
        sims, lambda s, i: F.struct((-s).alias("neg"), i.alias("idx"))
    )
    # One __best alias referenced twice: CollapseProject keeps the
    # multi-referenced non-trivial alias in its own Project, so the
    # K-fold cosine array + array_sort evaluate ONCE per row. The old
    # two-withColumn form inlined the whole subtree into BOTH cluster
    # and cos_c (2 full evaluations per row, plan-verified r9).
    assigned = (
        base.withColumn("__best", F.array_sort(pairs)[0])
        .withColumn("cluster", F.col("__best")["idx"])
        .withColumn("cos_c", -F.col("__best")["neg"])
        .drop("__best")
    )
    keepers = (
        assigned.groupBy("cluster")
        .agg(
            F.max_by(
                F.struct(F.col("__id").alias("kid"), F.col("__v").alias("kv"),
                         F.col("__n").alias("kn")),
                F.struct(F.col("cos_c"), -F.col("__id")),
            ).alias("kp")
        )
        .select(F.col("cluster").alias("__kcluster"), "kp.kid", "kp.kv", "kp.kn")
    )
    # Null-safe join key: a plain inner equi-join on `cluster` makes the
    # optimizer infer IsNotNull(cluster) on BOTH sides and push it into
    # the scans — re-embedding the entire K-fold cosine-assignment
    # expression inside a scan-side Filter on each subtree, so every row
    # paid the assignment twice more (plan-verified r9,
    # plans/r09/dedup_semantic_before.txt Filters (2)/(6)). cluster is
    # never NULL by construction (the sims array coalesces to -2.0), so
    # <=> computes identical pairs while EqualNullSafe, being
    # null-tolerant, triggers no IsNotNull inference.
    return (
        assigned.join(F.broadcast(keepers),
                      F.col("cluster").eqNullSafe(F.col("__kcluster")))
        .drop("__kcluster")
        .withColumn(
            "cos_keeper",
            safe_cos(dot(F.col("__v"), F.col("kv")), F.col("__n"), F.col("kn")),
        )
        .withColumn(
            "keep",
            (F.col("__id") == F.col("kid"))
            | F.col("cos_keeper").isNull()
            | (F.col("cos_keeper") < F.lit(eps)),
        )
        .select(
            F.col("__id").alias(id_col), "cluster", "cos_keeper", "keep"
        )
    )


def _py_norm(vec: list[float]) -> float:
    """Driver-side mirror of norm(): sequential left-to-right double
    fold, NOT math.sqrt(sum(...)) — sum() may fold differently."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    import math

    return math.sqrt(acc)


# --- Bloom-filter incremental dedup ----------------------------------------
# Bloom (CACM 1970) membership screening against an already-curated
# base corpus: the anti-join a snapshot-over-snapshot 100 TB pipeline
# cannot afford to re-shuffle is replaced by a broadcastable m-bit
# bitmap. False-positive rate (1 - e^(-k*n/m))^k; no false negatives,
# so "maybe_dup = false" rows are PROVABLY new.

BLOOM_M = 1 << 16  # bits; m/64 = 1024 int64 words
BLOOM_K = 5


def _bloom_positions(fp: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> list[Column]:
    """k independent bit positions via seeded xxhash64 (the i-th hash
    mixes the literal seed column in, Kirsch-Mitzenmacher style)."""
    return [
        F.pmod(F.xxhash64(fp, F.lit(i)), F.lit(m)).cast("int")
        for i in range(k)
    ]


# single-bit int64 masks, indexed by bit position + 1: Spark's shift
# builtins take a literal shift amount, so a column-indexed
# element_at into this 64-entry literal replaces shiftleft(1L, pos%64)
# (bit 63 is the sign bit — its mask is the negative two's-complement
# value).
_BIT_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _bit_for(pos: Column) -> Column:
    """int64 with only bit (pos % 64) set."""
    return F.element_at(F.lit(_BIT_MASKS), (pos % 64) + 1)


def bloom_build(base: DataFrame, fp_col: str,
                k: int = BLOOM_K, m: int = BLOOM_M) -> list[int]:
    """Fold the base corpus's fingerprints into an m-bit bloom bitmap,
    DISTRIBUTED: explode each fingerprint to its k bit positions,
    bit_or-aggregate per 64-bit word (partial map-side combine -> at
    most m/64 groups cross the wire), and collect only the m/64 word
    rows — the driver transfer is O(m), independent of corpus size.
    Returns the bitmap as a list of m/64 int64 words."""
    pos = F.explode(F.array(*_bloom_positions(F.col(fp_col), k, m)))
    words = (
        base.select(pos.alias("pos"))
        .select(
            F.floor(F.col("pos") / 64).cast("int").alias("w"),
            _bit_for(F.col("pos")).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bitmap = [0] * (m // 64)
    for r in words:
        bitmap[r["w"]] = r["word"]
    return bitmap


def bloom_maybe_contains(fp: Column, bitmap: list[int],
                         k: int = BLOOM_K, m: int = BLOOM_M) -> Column:
    """Probe expression: true iff all k bits for `fp` are set. The
    bitmap rides along as an array<bigint> literal (m/64 words), so the
    probe is a pure map-side projection — no join, no exchange, and it
    broadcasts to every executor inside the serialized plan."""
    words = F.lit(bitmap)
    probe = None
    for p in _bloom_positions(fp, k, m):
        word = F.element_at(words, F.floor(p / 64).cast("int") + 1)
        bit = word.bitwiseAND(_bit_for(p)) != 0
        probe = bit if probe is None else probe & bit
    return probe


def bloom_incremental_dedup(base: DataFrame, batch: DataFrame,
                            fp_col: str, k: int = BLOOM_K,
                            m: int = BLOOM_M) -> DataFrame:
    """Screen an incremental batch against the base corpus's bloom:
    adds a `maybe_dup` flag column to `batch`. Rows flagged false are
    guaranteed-new (no false negatives); flagged rows go to the exact
    (expensive) verification path in a production pipeline."""
    bitmap = bloom_build(base, fp_col, k, m)
    return batch.withColumn(
        "maybe_dup", bloom_maybe_contains(F.col(fp_col), bitmap, k, m)
    )
