"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design notes (the point of each strategy at 100 TB):

- **exact**: one hash-aggregate on a content fingerprint — a single shuffle
  keyed by md5, no pairwise anything. ~Free at any scale.
- **n-gram Jaccard (blocked)**: pairwise comparison is O(n²); it is only
  run *within blocks* (cheap deterministic keys). The blocked self-join
  shuffles both sides by block key — candidate volume is sum of block²,
  controlled by block granularity, never global n².
- **MinHash + LSH** (Broder 1997; Leskovec et al., "Mining of Massive
  Datasets" ch.3): signature of K portable min-hashes → banded into B
  buckets → equality self-join on (band, band_signature) gives candidates
  in expected near-linear time; exact Jaccard verifies candidates only.
  All hashes derive from md5 (functions/hashing.py) so signatures are
  engine-portable and oracle-checkable.
- **SimHash** (Charikar 2002): per-token hash bits vote sign; Hamming-close
  fingerprints → near-dups. Computed as a per-row fold over the token
  array — zero shuffles to fingerprint the corpus.
- **embedding cosine**: delegated to operators/similarity.py (same blocked
  self-join machinery over vector buckets).

Everything is expression-only (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.hashing import MERSENNE_PRIME, fast_hash60, hex_prefix_long
from cyrela_etl_spark.operators.text import tokens


def _base_hash(hash_fn: str):
    """Signature base hash: 'md5' (engine-portable, the oracle contract)
    or 'xxhash64' (Spark-native, several times cheaper — the production
    choice at corpus scale; same 60-bit non-negative range, not
    reproducible outside Spark)."""
    if hash_fn == "md5":
        return hex_prefix_long
    if hash_fn == "xxhash64":
        return fast_hash60
    raise ValueError(f"hash_fn must be md5|xxhash64, got {hash_fn!r}")

# Fixed (a, b) parameters for the universal-hash family simulating
# independent MinHash permutations. Deterministic by construction (seeded
# small-prime progression) — NOT runtime-random, so results are stable
# across runs and engines.
def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [(2 * i + 3, 7 * i + 1) for i in range(num_hashes)]


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Per-row, JVM-side, via n−1 ``zip_with`` passes against shifted copies
    of the token array (``zip_with`` pads the shorter side with null and
    ``concat_ws`` skips nulls, so the under-length tail grams are trimmed
    by the final slice). This is O(n·len) with n−1 array allocations; the
    naive per-gram formulation — transform(sequence, i → concat_ws(slice
    (tok, i, n))) — allocates a slice PER GRAM and measured 4× slower at
    sf0.1 (4.2 s → 1.0 s for the corpus shingle pass). Documents shorter
    than n tokens yield their whole token join as a single shingle (so no
    document is unrepresentable). ZERO-token documents (empty or
    whitespace-only text) yield the EMPTY shingle array — the contract
    the DuckDB oracle twin (queries/textq.py sql_shingles) mirrors; such
    documents carry the all-sentinel MinHash signature and are excluded
    from pair generation (see minhash_lsh_pairs / ngram_jaccard_pairs:
    their 0/0 Jaccard is undefined — a DIVIDE_BY_ZERO error under ANSI).
    """
    tok = tokens(col)
    sz = F.size(tok)
    grams = tok
    for i in range(1, n):
        grams = F.zip_with(grams, F.slice(tok, i + 1, sz), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.slice(grams, 1, F.greatest(sz - F.lit(n - 1), F.lit(1))))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-content md5.

    Returns one row per distinct content: (content_md5, n_dups,
    canonical_id = min id). Single hash-aggregate; partial aggregation
    map-side, one shuffle on the 128-bit key.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.md5(norm).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("canonical_id"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    n: int = 1,
    threshold: float = 0.5,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard within blocks.

    jaccard = |A∩B| / |A∪B| over distinct n-gram shingle sets — a ratio of
    two small ints, bit-exact in IEEE-754 across engines. Pairs are emitted
    once (id_a < id_b). ``block_cols`` bound the candidate set; without
    them the plan is a full n² nested-loop self-join — refused unless the
    caller opts in with ``allow_full_scan=True`` (use minhash_lsh_pairs
    for unblocked corpora instead).

    Zero-token documents (empty shingle set) are excluded before pairing:
    their Jaccard against each other is 0/0 — undefined (NULL with ANSI
    off, DIVIDE_BY_ZERO error with ANSI on). Empty-content duplicates
    belong to exact_dedup, which groups them in one content-hash bucket.
    """
    if not block_cols and not allow_full_scan:
        raise ValueError(
            "ngram_jaccard_pairs without block_cols plans a full n² "
            "nested-loop self-join; pass block_cols or opt in explicitly "
            "with allow_full_scan=True (or use minhash_lsh_pairs)"
        )
    sh = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (block_cols or [])],
        word_shingles(F.col(text_col), n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document MinHash signature (array<bigint>, length num_hashes).

    h_i(doc) = min over shingles of (a_i * hash(shingle) + b_i) mod P.
    One pass, per-row fold; no shuffle. ``hash_fn='md5'`` (default) is
    portable across engines; ``'xxhash64'`` is the faster
    production-scale base hash (see ``_base_hash``).

    Zero-shingle (empty/whitespace-only) documents keep their row with
    the all-sentinel signature [P, P, ..] — every real signature entry is
    < P, so the sentinel is recognizable. Pair generation filters them
    out (see minhash_lsh_pairs); this function emits one row per input
    document so it can serve as a total per-doc feature.
    """
    sig = minhash_signature_expr(word_shingles(F.col(text_col), shingle_n), num_hashes, hash_fn)
    return df.select(F.col(id_col).alias("id"), sig.alias("signature"))


def minhash_signature_expr(shingles: Column, num_hashes: int = 16, hash_fn: str = "md5") -> Column:
    """MinHash signature (array<bigint>) as a single expression over a
    shingle-array column.

    One fold computes ALL K mins: md5 is evaluated once per shingle (as
    the fold input), and each step does K cheap int ops on the bound
    lambda variable. The naive formulation — K separate
    array_min(transform(hashed, ...)) expressions — re-evaluates the md5
    array K times (HOF bodies are opaque to Spark's subexpression
    elimination): measured 16× slower at sf0.1.
    """
    hashed = F.transform(shingles, lambda s: _base_hash(hash_fn)(s) % F.lit(MERSENNE_PRIME))
    params = minhash_params(num_hashes)
    init = F.array(*[F.lit(MERSENNE_PRIME).cast("long")] * num_hashes)

    def _merge(acc, h):
        perms = F.array(*[(h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_PRIME) for a, b in params])
        return F.zip_with(acc, perms, lambda m, v: F.least(m, v))

    return F.aggregate(hashed, init, _merge)


def _cap_buckets(banded: DataFrame, bucket_cols: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop every row belonging to a bucket larger than ``max_bucket_size``.

    The Manku-era hot-bucket guard: a bucket of size s emits ~s²/2
    candidate pairs, so one boilerplate-heavy bucket (mass-duplicated
    content all sharing a signature) turns the near-linear LSH join
    quadratic. Oversized buckets are dropped WHOLE — their members are by
    construction near-identical and belong to exact dedup
    (``exact_dedup`` + ``connected_components``), not pairwise verify.
    Use the matching ``*_oversize_audit`` function to see what was
    dropped. One window count over the same key the self-join shuffles on
    (partitioning reused, no extra exchange)."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("_bucket_size", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_size") <= max_bucket_size)
        .drop("_bucket_size")
    )


def _oversize_audit(banded: DataFrame, bucket_cols: list[str], max_bucket_size: int) -> DataFrame:
    """Buckets exceeding the cap, with member counts — the drop audit:
    (bucket key columns..., bucket_size). Run this alongside a capped
    pair generation to quantify (and sample) what the cap excluded."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def _minhash_banded(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) — band key = (band index, joined signature
    slice) — from a (id, signature) relation."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "-",
                            *[F.col("signature")[bi * rows + r].cast("string") for r in range(rows)],
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_oversize_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """(band, bucket, bucket_size) for buckets a capped
    ``minhash_lsh_pairs`` run with the same parameters would drop.
    ``hash_fn`` must match the capped run's — the two hashes produce
    different bucket spaces."""
    rows = num_hashes // bands
    # Drop zero-shingle sentinel signatures (signature[0] == P iff the doc
    # had no shingles — real entries are always < P) so the audit sees the
    # same bucket space as the capped pairs run, which filters them.
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_fn).filter(
        F.element_at("signature", 1) < F.lit(MERSENNE_PRIME)
    )
    return _oversize_audit(_minhash_banded(sigs, bands, rows), ["band", "bucket"], max_bucket_size)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification.

    Signatures are banded (rows_per_band = num_hashes/bands); documents
    sharing any band bucket become candidates (equality self-join on the
    band key — shuffle on bucket, not n² compare). Candidates are verified
    with exact shingle Jaccard; output (id_a, id_b, jaccard) with
    jaccard >= threshold, each pair once.

    ``max_bucket_size`` is the hot-bucket guard (see ``_cap_buckets``):
    buckets with more members are dropped whole, and
    ``minhash_lsh_oversize_audit`` reports them. At corpus scale ALWAYS
    set it (10³–10⁴ is typical); run exact dedup first so mass-duplicated
    content never reaches the pairwise path.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    # Materialize (id, shingles, signature) ONCE and persist: the banded
    # self-join and the exact-Jaccard verification reference this relation
    # four times, and without a persist each reference re-scans the input
    # and re-hashes every shingle (no exchange reuse across
    # differently-keyed joins — observed 4× corpus scans in the physical
    # plan). At cluster scale the same role is played by checkpointing
    # signatures to a temp table; MEMORY_AND_DISK persist approximates
    # that here (LRU-evicted under pressure; callers batching many corpora
    # can unpersist when done).
    # Zero-shingle (empty/whitespace-only) documents are excluded: every
    # one carries the identical all-sentinel signature, so they'd all
    # collide into ONE bucket (a synthetic hot bucket) and their pairwise
    # Jaccard is 0/0 — NULL with ANSI off, DIVIDE_BY_ZERO error with ANSI
    # on. Empty-content dups are exact_dedup's job (one hash bucket).
    base = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).filter(F.size("shingles") > 0).withColumn(
        "signature", minhash_signature_expr(F.col("shingles"), num_hashes, hash_fn)
    ).persist()  # release: caller (cache contract, queries/__init__)
    banded = _cap_buckets(_minhash_banded(base, bands, rows), ["band", "bucket"], max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verification join strategy: build a per-partition hash table on the
    # CANDIDATE side (shuffle_hash hint) and stream the shingle relation
    # through it. The candidate relation is two longs per row and bounded
    # by the banded-join pair mass (cap-guarded), so the build never
    # outgrows a partition; the shingle side's fat array payloads are
    # never sorted OR broadcast. The two alternatives both fail at scale:
    # a size-based broadcast of shingles OOMs the driver (arrays
    # deserialize to many times their on-disk estimate — observed at 10×
    # sf0.1: "Not enough memory to build and broadcast"), and a merge
    # join sorts the full shingle relation TWICE (measured 112 s vs 15 s
    # for this phase at 5 M docs — the sort spill was the only
    # superlinear term in the 1x/10x/100x/1000x curve, NOTES round 11).
    # Join 1 builds on the bare candidate relation (two longs per row —
    # cheap, bounded by the cap-guarded banded pair mass). Join 2 is left
    # to the optimizer ON PURPOSE: its left side now carries one shingle
    # array per candidate, and forcing a hash BUILD over array payloads
    # was measured to heap-OOM the 5 M-doc leg (every concurrent task
    # holds its build partition's arrays pinned); the streamed/sorted
    # forms only spill. AQE re-plans join 2 from RUNTIME shuffle sizes,
    # so the historical static-misestimate broadcast of shingles (driver
    # OOM at 10× sf0.1) cannot recur at sizes where it would hurt.
    sh = base.select("id", "shingles")
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union = F.size(F.array_union(F.col("sa.shingles"), F.col("sb.shingles")))
    half = candidates.hint("shuffle_hash").join(
        sh.alias("sa"), F.col("id_a") == F.col("sa.id")
    )
    return (
        half.join(sh.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document SimHash fingerprint (Charikar 2002) over token hashes.

    bit_j(doc) = sign of Σ_tokens (±1 by bit j of the token's portable
    hash). Computed as ``bits`` independent folds over the token-hash
    array — per-row, shuffle-free. Near-dup = small Hamming distance.
    """
    if not 1 <= bits <= 60:
        # hex_prefix_long carries 60 md5 bits; beyond that every vote for
        # the high bits would read a constant 0 — silently degrading the
        # fingerprint. (60 bits is ample: Manku et al. used 64 on 8B docs.)
        raise ValueError(f"bits must be in [1, 60] (md5-prefix width), got {bits}")
    tok = tokens(F.col(text_col))
    hashes = F.transform(tok, lambda t: _base_hash(hash_fn)(t))

    # Single fold: per token one md5, then `bits` sign votes on the bound
    # variable; the fingerprint is assembled in the aggregate's finish
    # lambda so the vote array is read as a variable, never re-derived
    # (per-bit independent folds would re-hash the token array `bits`
    # times — same HOF-opacity pitfall as MinHash, measured ~10× slower).
    init = F.array(*[F.lit(0)] * bits)

    def _merge(acc, h):
        votes = F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
                for j in range(bits)
            ]
        )
        return F.zip_with(acc, votes, lambda a, b: a + b)

    def _finish(acc):
        fp: Column | None = None
        for j in range(bits):
            term = F.when(F.element_at(acc, j + 1) > 0, F.lit(2**j)).otherwise(F.lit(0))
            fp = term if fp is None else fp + term
        return fp

    fp = F.aggregate(hashes, init, _merge, _finish)
    return df.select(F.col(id_col).alias("id"), fp.cast("long").alias("simhash"))


def _simhash_banded(fps: DataFrame, chunks: int, chunk_bits: int) -> DataFrame:
    """(id, simhash, chunk, value) — Manku pigeonhole chunk keys from a
    (id, simhash) relation."""
    return fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright(F.col("simhash"), ci * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("value"),
                    )
                    for ci in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", "cc.chunk", "cc.value")


def simhash_oversize_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket_size: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """(chunk, value, bucket_size) for buckets a capped ``simhash_pairs``
    run with the same parameters would drop. ``hash_fn`` must match the
    capped run's — the two hashes produce different bucket spaces."""
    chunks = max_hamming + 1
    fps = simhash(df, text_col, id_col, bits, hash_fn)
    return _oversize_audit(_simhash_banded(fps, chunks, bits // chunks), ["chunk", "value"], max_bucket_size)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, LSH-banded.

    The fingerprint is split into (max_hamming+1) chunks; by pigeonhole two
    fingerprints within max_hamming share at least one exact chunk → join
    on (chunk_index, chunk_value) gives a complete candidate set without n²
    (the standard SimHash blocking from Manku et al. 2007, 'Detecting
    near-duplicates for web crawling'). Hamming is verified exactly.

    ``max_bucket_size``: hot-bucket guard, same contract as
    ``minhash_lsh_pairs`` (drop oversized chunk buckets whole; audit via
    ``simhash_oversize_audit``; set it at corpus scale).
    """
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    # Persist fingerprints: the banded self-join references them on both
    # sides (same rationale as minhash_lsh_pairs — no recompute at scale).
    fps = simhash(df, text_col, id_col, bits, hash_fn).persist()  # release: caller (cache contract, queries/__init__)
    banded = _cap_buckets(_simhash_banded(fps, chunks, chunk_bits), ["chunk", "value"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.value") == F.col("b.value"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over an
    undirected pair-edge relation → (id, component), component = min id in
    the component (canonical representative — the survivor a dedup keep
    policy retains). Only vertices that appear in an edge are emitted.

    Min-label propagation: each round every vertex takes the min of its own
    and its neighbors' labels (one shuffle join + partial-agg per round);
    converges in O(graph diameter) rounds — duplicate clusters are
    near-cliques from banded pair generation, so 3–5 rounds in practice,
    bounded by ``max_iters``. Per-round ``localCheckpoint`` truncates
    lineage (an iterative plan otherwise doubles per round and analysis
    time explodes long before data size matters); on a cluster the same
    role is played by checkpointing to reliable storage. This is the
    DataFrame-native form of the map-reduce CC algorithms (cf. Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond" — small-star/
    large-star; min-propagation is the simple variant that suffices at
    dup-cluster diameters).

    ``shuffle_partitions`` sizes the per-round exchanges to the LABEL
    table's cardinality instead of the session default: an iterative loop
    pays task-scheduling overhead per partition per round, so 32 near-
    empty partitions × N rounds is mostly latency (measured 4.9 → 3.5 s
    at sf0.1 with 8). Size to edges/labels, not the session's fact-table
    width; None inherits.

    CONCURRENCY CAVEAT: the knob is implemented by set-and-restore of the
    session-global ``spark.sql.shuffle.partitions`` (every round is
    eagerly materialized inside the loop, so the restore is reached
    before this function returns). Any OTHER query planned on the same
    SparkSession while the loop runs — a streaming micro-batch, another
    driver thread — silently inherits the reduced count. Pass ``None``
    (inherit) from multi-threaded drivers or sessions with active
    streams; single-threaded batch drivers (this repo's harness, a
    typical ETL job) are unaffected.
    """
    spark = pairs.sparkSession
    _conf_key = "spark.sql.shuffle.partitions"
    _old_parts = spark.conf.get(_conf_key)
    if shuffle_partitions is not None:
        spark.conf.set(_conf_key, str(shuffle_partitions))
    try:
        return _connected_components_loop(pairs, id_a, id_b, max_iters)
    finally:
        spark.conf.set(_conf_key, _old_parts)


# r18 loop-round AQE switch: every CC round materializes 3 small joins +
# an agg over the persisted edge table on explicitly-sized (8-partition)
# exchanges — there is nothing for AQE to re-plan, but its per-stage
# re-optimization turns each round's one action into ~6 stage-
# materialization jobs, and the loop's cost at test SF is driver latency
# (profiled: 32 jobs, 1.5 s of inter-job gaps on a 3 s wall). Interleaved
# A/B at sf0.1 (OPTIMIZATION_r18.md, identical checksums): AQE off won all
# 5 paired reps on dedup_components, medians 2.525 vs 2.704 s; re-run with
# `tools/ab.py dedup_components shipped
# patch:cyrela_etl_spark.operators.dedup._LOOP_ROUNDS_DISABLE_AQE=False`. The EDGE
# BUILD (self-joins over the corpus) stays under the caller's AQE — only
# the rounds over the already-persisted edges run static. Flag, not
# hardcode, so the A/B stays re-runnable.
_LOOP_ROUNDS_DISABLE_AQE = True


def _connected_components_loop(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int
) -> DataFrame:
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    # localCheckpoint, not persist (r18): every round references the edge
    # table, and with a persist each round's action still plans the full
    # edge-build subtree; truncating to the materialized blocks removes
    # that per-round planning and won all 5 interleaved A/B pairs on both
    # consumers at sf0.1 (components 2.25 vs 2.40 s, keep_best 3.21 vs
    # 3.30 s medians, identical checksums). Fault-tolerance trade is the
    # same one this loop already makes per round (labels localCheckpoint
    # below); the eager materialization happens under the CALLER's AQE,
    # so the one data-dependent phase keeps runtime re-planning at scale.
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)
    spark = pairs.sparkSession
    _aqe_key = "spark.sql.adaptive.enabled"
    _aqe_old = spark.conf.get(_aqe_key)
    if _LOOP_ROUNDS_DISABLE_AQE:
        spark.conf.set(_aqe_key, "false")
    try:
        return _cc_rounds(edges, labels, max_iters)
    finally:
        spark.conf.set(_aqe_key, _aqe_old)


def _cc_rounds(edges: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    prev_sum = None
    converged = False
    # max_iters bounds label-UPDATING rounds; one extra round is allowed
    # because convergence is only observable as an equal-sum round AFTER
    # the last update (labels that stabilize exactly on round max_iters
    # would otherwise raise spuriously).
    for _ in range(max_iters + 1):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("dst_comp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
        )
        # Pointer doubling (shortcutting): follow my label's label — path
        # lengths halve per round, so convergence is O(log diameter)
        # rounds instead of O(diameter).
        new_labels = (
            stepped.alias("l")
            .join(
                stepped.select(F.col("id").alias("comp"), F.col("comp").alias("comp2")).alias("r"),
                "comp",
                "left",
            )
            .select("id", F.least(F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))).alias("comp"))
            .localCheckpoint(eager=False)
        )
        # Convergence via one aggregate, no extra join: labels only ever
        # DECREASE, so sum(comp) strictly decreases until fixpoint. The
        # action also materializes the lazy checkpoint — one job per round.
        cur_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    # edges is localCheckpointed (not persisted) — its blocks are freed by
    # the ContextCleaner when the RDD is garbage-collected; no unpersist.
    if not converged:
        # Silently-split components are a correctness hazard; with pointer
        # doubling (O(log diameter) rounds) hitting this at max_iters=20
        # means ~2^20-diameter chains — raise rather than return wrong
        # labels. Callers with genuinely pathological graphs can raise
        # max_iters.
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters}; "
            "labels would be split — raise max_iters"
        )
    return labels.select("id", F.col("comp").alias("component"))


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """ASYMMETRIC set containment over distinct word n-gram shingles:
    C(A→B) = |S(A)∩S(B)| / |S(A)| (Broder 1997's second resemblance
    measure, the one Jaccard is NOT — a short document quoted inside a
    long one has high containment but low Jaccard, so every
    quote/subset/boilerplate-inclusion duplicate is invisible to the
    Jaccard family by construction).

    ``candidates`` is an (id_a, id_b) pair relation from any blocked
    generator (rare-shingle co-occurrence, LSH buckets, prefix blocks) —
    containment is exact FOR those pairs; the generator bounds the join.
    Pairs where either side has zero shingles are dropped (0/0
    undefined, the ngram_jaccard_pairs contract). Emits both directions
    per pair plus the max — a pair is a containment-duplicate when
    EITHER direction crosses ``threshold``; ratios are single IEEE
    divisions of small ints, rounded before thresholding.

    Plan: two id-keyed hash joins pull each side's (distinct) shingle
    array onto the candidate row; the intersect/size math is a per-row
    JVM projection. Shuffles carry candidate-pair and doc-sized rows,
    never corpus².
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = candidates.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_a = F.round(inter / F.size("sh_a"), 6)
    c_b = F.round(inter / F.size("sh_b"), 6)
    return (
        joined.select(
            "id_a",
            "id_b",
            inter.cast("long").alias("n_shared"),
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold)
    )
