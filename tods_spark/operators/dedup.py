"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup (driver mandate).

No reference analogue beyond timestamp dedup (DuplicationValidation.py:73-87,
covered in operators/validation.py) — these are the web-scale text variants,
designed Spark-first:

  * exact        — md5 grouping (one shuffle on the hash, map-side combine)
  * n-gram Jaccard — shingle explode → self-equi-join on shingle → per-pair
                   intersection count vs union (candidate generation IS the
                   join; no n² scan)
  * MinHash+LSH  — k permutation-hash minima per doc (one explode + groupBy),
                   signatures cut into b bands; an equi-join on
                   (band, band-hash) yields candidates; verified by exact
                   Jaccard. At 10^12 docs the band join is the only shuffle
                   and AQE handles hot buckets.
  * SimHash      — 64-bit weighted-bit-vote signature via one Arrow UDF over
                   word-hash arrays (numpy bit ops, no per-row Python);
                   near-dups = signatures at Hamming distance ≤ r, found by
                   pigeonhole band join (r+1 chunks).
  * embedding cosine near-dup — see operators/similarity.py (cosine_pairs).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from tods_spark.operators.text import words


def md5_h64(col, seed: int | None = None):
    """Portable 60-bit hash both engines compute identically: the first 15
    hex chars of md5 parsed base-16. Spark: conv(substr(md5, 1, 15), 16, 10);
    DuckDB: ('0x' || substr(md5, 1, 15))::BIGINT. 60 bits keeps the value
    positive in a signed long (no sign-dependent `%`/shift hazards) while
    collision odds stay ~2^-60. Seeded variant prefixes "{seed}:"."""
    inp = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("long")


def md5_h64_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of md5_h64 — same bytes, same value."""
    inp = expr if seed is None else f"concat('{seed}:', {expr})"
    return f"('0x' || substr(md5({inp}), 1, 15))::BIGINT"


def chunk_layout(n_bits: int, chunks: int) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole chunk, covering ALL n_bits: the first
    n_bits % chunks chunks get an extra bit. Shared by the Spark plan and
    the generated oracle SQL so both split signatures identically."""
    base, rem = divmod(n_bits, chunks)
    layout, off = [], 0
    for i in range(chunks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def _ensure_parallelism(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Small-input guard: a tiny doc table read from one parquet file is ONE
    scan partition, which serializes the shingle/hash stage onto a single
    core. When the scan has far fewer partitions than the cluster has slots,
    one balancing repartition (cost: one pass over the raw text, small by
    construction here) unlocks the full width.

    The split count is estimated from FILE METADATA (`df.inputFiles()` +
    local file sizes vs a 128 MiB split), never `df.rdd.getNumPartitions()`
    — the RDD conversion materializes a second physical plan even when the
    guard is a no-op, which is exactly the real-scale case. Non-file
    sources (in-memory test frames) skip the guard: their parallelism is
    set by their origin. The repartition hashes on `key_col` (stable,
    retry-deterministic row placement), not round-robin."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        return df
    est_splits = len(files)
    try:
        sizes = [os.path.getsize(f.removeprefix("file:")) for f in files]
        split = 128 * 1024 * 1024
        est_splits = sum(max(1, -(-s // split)) for s in sizes)
    except OSError:
        pass  # non-local URIs: file count remains the lower-bound estimate
    if est_splits < max(2, target // 2):
        return df.repartition(target, F.col(key_col))
    return df


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the keeper
    (min id) and the duplicate count."""
    return (
        df.groupBy(F.md5(col).alias("fp_md5"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_array(col: str, n: int = 3):
    """Column expr: DISTINCT word n-gram shingles of a text column — the
    ONE definition of "shingle" shared by the Jaccard path (exploded) and
    the MinHash path (reduced in place), so they can never diverge."""
    w = words(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        )
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id", col: str = "text",
                  n: int = 3) -> DataFrame:
    """(id, shingle) rows — DISTINCT word n-grams per doc."""
    df = _ensure_parallelism(df, id_col)
    return df.select(F.col(id_col).alias("id"),
                     F.explode(shingle_array(col, n)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
    df_cap: int | None = 64,
) -> DataFrame:
    """Candidate pairs that share ≥1 common-enough shingle, with exact
    Jaccard similarity over the FULL shingle sets.

    Scale design (10⁹+ docs):
      * `df_cap` prunes shingles appearing in ≥ df_cap documents BEFORE the
        self-join — one hot shingle ("of the and") otherwise makes the join
        quadratic in its document frequency. Capped pairs lose candidates
        only if they share NOTHING rarer than the cap (standard
        SparkML-MinHashLSH / dedup-pipeline practice). Jaccard itself stays
        exact: the numerator counts capped-shingle matches only, so sizes
        are recounted over the SAME capped shingle universe.
      * per-doc size dims are plain shuffle joins — a per-doc table is NOT
        broadcastable at scale (driver OOM); AQE picks the strategy when
        the doc count is actually small.
      * df_cap=None keeps the grouped-pair formulation but removes the
        bound on the per-shingle id list — only safe on corpora known to
        have no hot shingles (the capped default is the scale contract)."""
    sh = shingle_table(df, id_col, col, n)
    if df_cap is not None:
        # document frequency as a count() window over the shingle
        # partition (same restructuring as dup_spans, optimization round
        # 7): the previous two-phase shape aggregated DF separately and
        # semi-joined the rare-shingle SET back — a corpus-sized
        # driver-broadcast at sf0.1 and a 4x recompute of the
        # scan+explode; this shape pays ONE exchange on the shingle and
        # a hot shingle's group spills in WindowExec before the cap
        # filter drops it
        occ = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = sh.withColumn("_df", occ).filter(F.col("_df") < df_cap)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # candidate pairs generated LOCALLY per surviving shingle (<= df_cap
    # ids, already co-partitioned): ordered cross-pairs via array
    # higher-order functions instead of a self-join — no second pass, no
    # broadcast, identical pair multiset
    grouped = sh.groupBy("shingle").agg(F.collect_list("id").alias("ids"))
    # one SQL string for the nested pair transform (see _minhash_sig_sql)
    pair_arr = F.expr(
        "flatten(transform(ids, x -> "
        "transform(filter(ids, y -> y > x), y -> "
        "named_struct('id_a', x, 'id_b', y))))"
    )
    inter = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                + F.lit(1e-9),
                4,
            ),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"
    )


def dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    n: int = 3,
    min_span: int = 4,
    df_cap: int | None = 64,
) -> DataFrame:
    """Cross-document duplicate SPANS: maximal runs of consecutive shared
    word n-grams between two documents — the exact-substring-dedup
    primitive of real LLM-data pipelines (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", re-derived; the suffix-
    array formulation is replaced by a diagonal-run reduction that Spark
    expresses as joins + bounded windows). Where `ngram_jaccard_pairs`
    scores whole-document overlap, this localizes WHERE the overlap is:
    boilerplate headers, quoted passages, templated paragraphs.

    Returns (doc_a, doc_b, a_start, b_start, span_len, span_words):
    doc_a < doc_b, a_start/b_start are 0-based positions in each doc's
    POSITIONAL shingle stream (= word offset of the span start), span_len
    counts shingles, span_words = span_len + n - 1 words covered.

    Shape & scale (optimization round 7 — one scan, one shingle-keyed
    exchange, no corpus-sized broadcast; results bit-identical to the
    previous two-phase join formulation, oracle-checked):
      1. positional shingles (one per word offset, NOT deduplicated —
         text.words() tokenization, same as every other shingle op):
         projection only; `_ensure_parallelism` widens the single-file
         scan so shingle generation isn't single-task;
      2. ONE hash exchange on the shingle string. Occurrence counting
         (`df_cap` semantics: drop shingles with ≥ df_cap TOTAL
         OCCURRENCES — Lee et al.'s frequent-substring cutoff;
         occurrences, not distinct docs, so within-doc repetition can't
         explode the join) is a count() window over the shingle
         partition: a hot shingle's group SPILLS to disk in WindowExec
         and is then dropped by the cap filter — it never becomes an
         in-memory list (the previous formulation aggregated occurrence
         counts separately and semi-joined the rare-shingle SET back,
         which at sf0.1 planned as a driver-built broadcast of every
         distinct shingle string and recomputed the scan+explode 4×);
      3. pair generation is LOCAL: per surviving shingle (occ < cap,
         already co-partitioned) collect the ≤ cap (id, pos) occurrences
         and emit ordered cross-pairs with array higher-order functions —
         ≤ cap²/2 rows per shingle, no self-join, no second pass;
      4. matches on the same DIAGONAL (i - j constant) are consecutive
         iff positions are: runs = groups of constant i - row_number()
         within (doc_a, doc_b, diag) ordered by i (i is unique per key:
         a document position holds exactly one trigram) — a single
         window pass (the lag + running-sum pair it replaces needed two),
         then a partial+final count-agg emits each maximal run once,
         reusing the window's partitioning (no extra exchange). b_start
         is derived as a_start - diag, so j never shuffles. Per-key rows
         are bounded by min(len_a, len_b) — document length, never
         corpus size — so no unbounded-key window (audit check 17 class).
    """
    df = _ensure_parallelism(df, id_col)
    w = words(col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles).alias("pos", "shingle"),
    )
    if df_cap is not None:
        occ = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = sh.withColumn("_occ", occ).filter(F.col("_occ") < df_cap)
    grouped = sh.groupBy("shingle").agg(
        F.collect_list(F.struct("id", "pos")).alias("occs")
    )
    # pair generation as ONE SQL string (optimization round 7, second
    # pass): the nested-Column transform/filter/struct form cost ~30
    # py4j round trips per query construction (see _minhash_sig_sql)
    pair_arr = F.expr(
        "flatten(transform(occs, x -> "
        "transform(filter(occs, y -> y.id > x.id), y -> "
        "named_struct('doc_a', x.id, 'doc_b', y.id, "
        "'i', x.pos, 'diag', x.pos - y.pos))))"
    )
    m = grouped.select(F.explode(pair_arr).alias("p")).select("p.*")
    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    runs = (
        m.withColumn("_grp", F.col("i") - F.row_number().over(wd))
        .groupBy("doc_a", "doc_b", "diag", "_grp")
        .agg(
            F.min("i").alias("a_start"),
            F.count(F.lit(1)).alias("span_len"),
        )
    )
    return runs.filter(F.col("span_len") >= min_span).select(
        "doc_a",
        "doc_b",
        "a_start",
        (F.col("a_start") - F.col("diag")).alias("b_start"),
        "span_len",
        (F.col("span_len") + F.lit(n - 1)).alias("span_words"),
    )


MINHASH_P = (1 << 31) - 1  # Mersenne prime: products stay well inside int64


def minhash_coeffs(k: int, seed: int = 20240816) -> tuple[list[int], list[int]]:
    """Universal-hash coefficients (a_i, b_i) for the k MinHash
    permutations — deterministic, shared by the Spark plan and the
    generated oracle SQL."""
    rng = np.random.default_rng(seed)
    a = [int(x) for x in rng.integers(1, MINHASH_P, size=k)]
    b = [int(x) for x in rng.integers(0, MINHASH_P, size=k)]
    return a, b


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    n: int = 3, k: int = 32, hash_fn: str = "xxhash64",
) -> DataFrame:
    """k-coordinate MinHash via permutation hashing: ONE base hash per
    shingle, then coordinate i = min over shingles of (a_i·h + b_i) mod p
    (the standard universal-hash family — k coordinates cost k integer
    ops, not k cryptographic hashes; at 16 coordinates this is ~10× the
    throughput of per-seed hashing). hash_fn picks the base hash:
      * "xxhash64" (default): Spark-native JVM fast path — the engine and
        bench default (~2.5x the md5 throughput at sf0.1);
      * "md5": portable 60-bit md5 slice — DuckDB computes the identical
        value, so the oracle-twin queries pass hash_fn="md5".

    Computed as a PURE PROJECTION (round 4): the per-doc shingle array is
    hashed and reduced with higher-order functions (transform +
    array_min), so the signature stage has NO explode, NO groupBy and NO
    shuffle at all — each task streams docs and emits signatures; the
    first exchange in the whole LSH pipeline is the band-bucket join.
    (The previous explode+groupBy plan was already map-side partial, but
    it still paid the 10⁷-row explode and a 400k-row exchange at sf0.1;
    values are bitwise-identical — same min over the same integer set.)
    One signature row is emitted PER INPUT ROW: `id_col` is the doc
    table's key and assumed unique (the old groupBy silently merged
    duplicate ids into one union-of-shingles signature; dedupe upstream
    if the input can carry repeated ids)."""
    df = _ensure_parallelism(df, id_col)
    shingles = shingle_array(col, n)
    base = (
        (lambda s: md5_h64(s)) if hash_fn == "md5"
        else (lambda s: F.xxhash64(s))
    )
    hs = F.transform(shingles, lambda s: F.pmod(base(s), F.lit(MINHASH_P)))
    sig = F.expr(_minhash_sig_sql("__hs__", k))
    return (
        df.select(F.col(id_col).alias("id"), hs.alias("__hs__"))
        .select("id", sig.alias("sig"))
    )


def _minhash_sig_sql(hs_sql: str, k: int) -> str:
    """SQL text of `_minhash_sig_expr` for the hot construction path
    (optimization round 7, second pass): building the k-term fused
    update as nested Column objects costs ~100+ py4j round trips PER
    QUERY CONSTRUCTION — measured 0.37-0.44 s of the minhash bench
    entries' ~1.0 s timed region is pure driver-side DataFrame
    construction. One `F.expr` string is a single parse on the JVM.
    Values are identical to `_minhash_sig_expr` (same literals, same
    integer arithmetic; differential pytest asserts equality)."""
    av, bv = minhash_coeffs(k)
    init = "array(" + ",".join([str(MINHASH_P + 1)] * k) + ")"
    upd = ",".join(
        f"least(acc[{i}], (h * {av[i]} + {bv[i]}) % {MINHASH_P})"
        for i in range(k)
    )
    return f"aggregate({hs_sql}, {init}, (acc, h) -> array({upd}))"


def _minhash_sig_expr(hs_col, k: int):
    """k-coordinate signature as a SINGLE `aggregate` pass over the hash
    array (optimization round 7): the accumulator is the k-vector of
    running minima, updated with k fused multiply-add-mod-least ops per
    element. The previous k×(transform + array_min) form materialized k
    intermediate arrays and scanned the hashes 2k times; values are
    bit-identical (same integer arithmetic — the init P+1 can never win
    because every permuted hash is < P, and the shingle array is never
    empty by construction of shingle_array). ~10% at sf0.1, more when
    signatures dominate (long docs). Column-object form, kept for
    callers whose hash array is an inline expression
    (source_minhash_overlap); `_minhash_sig_sql` is the low-build-cost
    SQL-text twin used on the hot path."""
    av, bv = minhash_coeffs(k)
    init = F.array(*[F.lit(MINHASH_P + 1).cast("long") for _ in range(k)])
    return F.aggregate(
        hs_col, init,
        lambda acc, h: F.array(*[
            F.least(acc[i], (h * F.lit(av[i]) + F.lit(bv[i])) % F.lit(MINHASH_P))
            for i in range(k)
        ]),
    )


def minhash_lsh_candidates(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding: signature → b bands of k/b rows; docs colliding on any
    (band, band-hash) become candidate pairs (dedup'd). The band hash is
    md5 over the comma-joined coordinate values — engine-neutral, so the
    oracle twin reproduces the buckets bit-for-bit."""
    assert k % bands == 0
    r = k // bands
    sig = minhash_signatures(df, id_col, col, n, k, hash_fn)
    # Band-bucket width (optimization round 7, guide §2.3 "narrower
    # types"): the (id, band, bucket) rows are the pipeline's ONLY big
    # exchange, and the bucket was a 32-char md5 HEX string. md5 path:
    # unhex() to the 16 raw bytes — hex↔bytes is a bijection, so equality
    # classes (hence the candidate-pair set) are bit-identical, at half
    # the bucket bytes and a cheaper binary comparison in the join.
    # xxhash64 engine path (no oracle twin shares its buckets): the band
    # hash is xxhash64 over the band's coordinates — an 8-byte long, ~4x
    # narrower than the hex string and hashed/compared as a primitive.
    # (second pass: the bands array is built as ONE SQL string — the
    # nested-Column form cost ~50 py4j round trips per query
    # construction; see _minhash_sig_sql)
    if hash_fn == "md5":
        def band_hash(b):
            cols = ",".join(f"cast(sig[{i}] as string)"
                            for i in range(b * r, (b + 1) * r))
            return f"unhex(md5(concat_ws(',', {cols})))"
    else:
        def band_hash(b):
            cols = ",".join(f"sig[{i}]" for i in range(b * r, (b + 1) * r))
            return f"xxhash64({cols})"
    band_arr = "array(" + ",".join(band_hash(b) for b in range(bands)) + ")"
    banded = sig.select(
        "id",
        F.posexplode(F.expr(band_arr)).alias("band", "bucket"),
    )
    # SHUFFLE_HASH hint (optimization round 7): the band self-join's two
    # sides are the SAME signature pipeline — under the default plan the
    # planner broadcasts one side and each side computes the (expensive)
    # shingle/permutation stage independently. Forcing a shuffled hash
    # join makes both sides identical Exchange subtrees, so ReusedExchange
    # computes the signatures ONCE and replays the shuffle files for the
    # other side — and there is no sort (vs sort-merge) and no
    # driver-round-trip broadcast build. At scale the band join stays the
    # pipeline's only big exchange; AQE skew-split applies to SHJ too.
    a, b2 = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


SIMHASH_BITS = {"md5": 60, "xxhash64": 64}


def simhash64(df: DataFrame, id_col: str = "doc_id", col: str = "text",
              hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash: each word's hash votes ±1 per bit position; signature bit =
    sign of the vote sum. Word hashes computed JVM-side; the bit-vote
    reduction is one vectorized numpy kernel per Arrow batch. hash_fn "xxhash64"
    (full 64 bits, Spark-native fast path — the engine/bench default) or
    "md5" (60-bit portable slice — the oracle twin recomputes the identical
    signature in SQL; always non-negative, so no sign hazards)."""
    n_bits = SIMHASH_BITS[hash_fn]
    word_hash = (
        (lambda w: md5_h64(w)) if hash_fn == "md5" else (lambda w: F.xxhash64(w))
    )
    df = _ensure_parallelism(df, id_col)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(words(col), word_hash).alias("hashes"),
    )

    @F.pandas_udf("long")
    def _simhash(hs: pd.Series) -> pd.Series:
        def one(arr):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                return 0
            bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1,
                                 bitorder="little")[:, :n_bits]
            # int64 BEFORE the vote arithmetic: unpackbits yields uint8 and
            # a uint sum makes `*2 - size` wrap, turning negative votes into
            # huge positives (every bit reads 1 — caught by the oracle twin)
            votes = bits.astype(np.int64).sum(axis=0) * 2 - h.size
            on = votes > 0
            sig = np.packbits(np.pad(on, (0, 64 - n_bits)).astype(np.uint8),
                              bitorder="little")
            return int(np.frombuffer(sig.tobytes(), np.uint64)[0].view(np.int64))

        return hs.map(one)

    return hashed.select("id", _simhash("hashes").alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       col: str = "text", max_hamming: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Pigeonhole LSH over SimHash: split the signature into max_hamming+1
    chunks covering ALL bits (chunk_layout); any pair within the Hamming
    radius collides on ≥1 chunk. Equi-join on (chunk_idx, chunk_bits), then
    exact Hamming verify via bit_count. Chunk bits are extracted with
    shiftrightunsigned + bitwiseAND mask — sign-independent (a plain `%`
    follows the dividend's sign in Spark and silently drops pairs whose
    signatures differ in the top bit)."""
    sig = simhash64(df, id_col, col, hash_fn)
    layout = chunk_layout(SIMHASH_BITS[hash_fn], max_hamming + 1)
    banded = sig.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                for off, width in layout
            ])
        ).alias("chunk", "bits"),
    )
    # shuffle_hash hint: same ReusedExchange rationale as
    # minhash_lsh_candidates — the SimHash signature (an Arrow UDF stage)
    # is computed once instead of once per join side
    a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.bits") == F.col("b.bits"))
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
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_contamination(
    test: DataFrame,
    train: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    col: str = "text",
    hash64: bool = False,
) -> DataFrame:
    """Cross-corpus n-gram contamination (the decontamination check of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" / GPT-3-style benchmark filtering): for each TEST document,
    the fraction of its distinct word n-grams that appear anywhere in the
    TRAIN corpus. Documents with fewer than ``n`` words emit no row.

    Scale design (10⁹+ docs): the train side collapses to DISTINCT grams
    (vocabulary-bounded, partial-agg map-side) and the probe is a
    LEFT SEMI equi-join on the gram key — no pair explosion, no
    doc-cardinality broadcast. ``hash64=True`` swaps the join key for
    xxhash64(gram) to cut shuffle width at real scale (the md5/xxh64
    split convention of minhash_lsh_candidates); the string-keyed default
    is the cross-engine-twinnable path."""
    from tods_spark.operators.text import _ngrams

    def grams(df):
        g = F.explode(
            F.array_distinct(_ngrams(words(col), n))
        ).alias("gram")
        out = df.select(id_col, g)
        if hash64:
            out = out.withColumn("gram", F.xxhash64("gram"))
        return out

    tg = grams(test)
    trg = grams(train).select("gram").distinct()
    tot = tg.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hit = (
        tg.join(trg, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        tot.join(hit, id_col, "left")
        .fillna(0, ["n_hit"])
        .withColumn(
            "contamination_frac", F.col("n_hit") / F.col("n_grams")
        )
    )


def _edge_signature(e: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set: (count, sum of per-row
    xxhash64) — one partial+final aggregate, no sort, no collect of rows.
    Used as the fixed-point test for the star alternation (a collision
    would need two DIFFERENT edge sets of equal size whose 64-bit row-hash
    sums tie — negligible, and a miss only costs one extra round)."""
    r = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (int(r["n"]), int(r["h"] or 0))


def _cc_driver(e: DataFrame) -> DataFrame:
    """Union-find over a SMALL edge list, collected to the driver — the
    strategy `connected_components` picks when the measured edge count is
    at most `DRIVER_CC_EDGES` (the same runtime small-side decision AQE
    makes for broadcast joins: that many edges is a few MB, the same
    order as the broadcast relations and codebook collects the engine
    already allows).
    Labels are identical to the distributed kernels: cluster label = min
    vertex id of the component, one row per vertex that appears in a
    (non-self-loop) edge. Input must already be filtered to src != dst."""
    import pandas as pd

    spark = e.sparkSession
    pdf = e.toPandas()
    allv = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, uniques = pd.factorize(allv)
    m = len(pdf)
    a, b = codes[:m], codes[m:]
    parent = list(range(len(uniques)))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for i in range(m):
        ra, rb = find(int(a[i])), find(int(b[i]))
        if ra != rb:
            parent[rb] = ra
    roots = np.fromiter((find(i) for i in range(len(uniques))),
                        dtype=np.int64, count=len(uniques))
    lab = pd.DataFrame({"id": pd.Series(uniques), "root": roots})
    lab["lbl"] = lab.groupby("root")["id"].transform("min")
    from pyspark.sql.types import StructField, StructType

    id_type = e.schema["src"].dataType
    schema = StructType([
        StructField("id", id_type), StructField("lbl", id_type)
    ])
    return spark.createDataFrame(lab[["id", "lbl"]], schema=schema)


# Edge lists at or below this many edges are solved on the driver. The
# star alternation's convergence loop over a KB-sized edge set is all
# scheduling overhead (measured 5-11 s for 1,186 edges at sf0.1 against
# ~0.3 s collected); 200k edges is about 3 MB, the same order as a
# broadcast-join small side.
DRIVER_CC_EDGES = 200_000


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected edge list (`src`, `dst`) by
    LARGE-STAR / SMALL-STAR alternation (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond" — re-derived from the published
    algorithm, no reference analogue). Returns (id, cluster_id) with
    cluster_id = min vertex id in the component, for every vertex that
    appears in an edge (the same contract the previous min-label
    propagation satisfied).

    Strategy choice: the edge set is first counted (one map-side-combine
    job over the dedup'd list); at or below ``DRIVER_CC_EDGES`` edges it
    is collected and solved with path-compressed union-find
    (`_cc_driver`, label-identical by construction and by differential
    pytest); above it the distributed star alternation below runs — at
    100 TB the dup graph takes that path. `_cc_star` runs the distributed
    kernel on any edge list.

    Per round (one large-star then one small-star), each a bounded
    pipeline of: symmetrize/orient (projection), per-node min
    (partial+final HashAggregate), one equi-join back to the edges, and a
    distinct — every exchange keyed on the vertex id, all combining
    map-side; `localCheckpoint` truncates the growing lineage so round N
    doesn't replay rounds 1..N-1.

      * large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
        v > u — hangs every larger neighbor off the local min;
      * small-star(u): orient each edge toward its larger endpoint, then
        m = min(N(u) ∪ {u}) over the smaller neighbors; emit (v, m) for
        v ∈ N(u) ∪ {u}, v ≠ m — re-points the smaller neighbors.

    Convergence is O(log² n) rounds worst-case and ~log₂(diameter) in
    practice — a planted 10⁴-long chain takes 15 rounds (measured) where
    plain min-propagation needs 10⁴ (tests/test_dedup_similarity.py
    plants exactly that graph). At the fixed point the edge set is a star forest
    (v, component_min), which IS the label table. Works for any orderable
    id type (string or numeric; the cluster label is the
    lexicographic/numeric min)."""
    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e0.count() <= DRIVER_CC_EDGES:
        return _cc_driver(e0)
    labels, _ = _cc_star(e0, max_iter, prepared=True)
    return labels


def _cc_star(edges: DataFrame, max_iter: int = 50, prepared: bool = False):
    """Core of `connected_components`; also returns the round count so
    tests can assert the O(log d) convergence bound. ``prepared=True``
    means the caller already filtered self-loops, dedup'd and
    checkpointed the edge list (connected_components does, to share the
    materialization with its edge count)."""
    if prepared:
        e = edges
    else:
        e = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    sig = _edge_signature(e)
    rounds = 0
    for _ in range(max_iter):
        # large-star: per-node min over the FULL neighborhood
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lmin = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("_m")
        )
        e = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: orient toward the larger endpoint, min over the
        # smaller neighbors (plus self), re-point them all
        d = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        smin = d.groupBy("src").agg(F.min("dst").alias("_m"))
        e = (
            d.join(smin, "src")
            .filter(F.col("dst") != F.col("_m"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .union(smin.select("src", F.col("_m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        new_sig = _edge_signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components: no fixed point in {max_iter} rounds"
        )
    # fixed point = star forest (v, component_min): labels are the edges
    # themselves plus the centers labeling themselves
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("lbl")).union(
        e.select(F.col("dst").alias("id"), F.col("dst").alias("lbl")).distinct()
    )
    return labels, rounds


def connected_components_minprop(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components by plain min-label propagation: every vertex
    starts labeled with its own id and repeatedly takes the min label over
    itself and its neighbors until a fixed point. Same (id, cluster_id)
    contract as `connected_components`; kept as the differential-testing
    partner for the star alternation (tests assert identical labels on
    random graphs) and as the simpler kernel for star-shaped inputs.

    Scale shape: each round is one shuffle join (edges x labels on src)
    plus one partial+final min-aggregate keyed by vertex — both combine
    map-side; `localCheckpoint` truncates the growing lineage so round N
    doesn't replay rounds 1..N-1. Rounds needed = component DIAMETER
    (degenerate on long chains — use `connected_components` for
    adversarial graphs). Convergence: each vertex's old label rides
    through the same min-aggregate (tagged union), so "changed this
    round" is a cheap filter-count over the already-materialized
    per-round checkpoint — no extra join, and it works for any orderable
    id type (string or numeric; the cluster label is the
    lexicographic/numeric min).

    Self-loop edges are filtered first, exactly like
    `connected_components`: a vertex appearing ONLY in self-loops gets no
    label from either kernel (r7, closing the documented divergence where
    minprop labeled such vertices with themselves and the star kernel did
    not)."""
    edges = edges.filter(F.col("src") != F.col("dst"))
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("lbl"), F.lit(False).alias("own")
        )
        agg = (
            labels.select("id", "lbl", F.lit(True).alias("own"))
            .union(msgs)
            .groupBy("id")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("own"), F.col("lbl"))).alias("old_lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = agg.filter(F.col("lbl") != F.col("old_lbl")).count()
        labels = agg.select("id", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")
    return labels


def neardup_clusters(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    n: int = 3, k: int = 16, bands: int = 8, hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate cluster labels: minhash-LSH candidate pairs as the
    edge list, connected components over them, each clustered doc labeled
    with the min doc id of its component (the canonical keep-one-per-
    cluster dedup key). Docs with no near-dup partner are not emitted —
    at corpus scale the output is the (small) dup fraction, not a full
    relabeling of 10^12 rows."""
    pairs = minhash_lsh_candidates(df, id_col, col, n, k, bands, hash_fn)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
    )


def dedup_keep(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    n: int = 3, k: int = 16, bands: int = 8, hash_fn: str = "md5",
) -> DataFrame:
    """The deduplicated corpus: drop every doc whose near-dup cluster
    label is not itself (keep exactly one representative — the min id —
    per cluster; `neardup_clusters` semantics). This is the op a training
    pipeline actually runs after clustering.

    Scale shape: the drop list is the (small) dup fraction of the corpus;
    the final step is a LEFT ANTI join on the id — broadcastable whenever
    the dup list fits (AQE converts it at runtime), shuffle-hash
    otherwise. The full rows never move twice: clustering touches only
    (id, text-derived hashes), the anti join is id-keyed."""
    clusters = neardup_clusters(df, id_col, col, n, k, bands, hash_fn)
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(drop, on=id_col, how="left_anti")


def source_minhash_overlap(
    df: DataFrame, strata_col: str = "source", col: str = "text",
    n: int = 3, k: int = 16, hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-overlap estimation between source shards: one k-coordinate
    MinHash signature PER SOURCE (coordinate i = min over every shingle
    the source contains of the i-th universal hash — min distributes over
    union, so the per-source signature is exactly the signature of the
    union of its docs' shingle sets), then the estimated Jaccard between
    two sources = fraction of matching coordinates. The standard corpus-
    audit question ("how much does crawl A overlap crawl B?") answered
    without ever joining documents.

    Scale shape: per-doc coordinate minima are a pure projection over the
    scan (same shuffle-free shape as `minhash_signatures`); the only
    exchange is a partial+final hash aggregate on ``strata_col`` whose
    output is one row per source — a 70%-hot source costs nothing because
    partial aggregation collapses each task's rows to <= n_sources
    partials before the exchange (the map-side-combine answer to skew;
    no salt needed for an algebraic min). The pair join is over the
    n_sources-row table — metadata-sized at any corpus scale."""
    sh = shingle_array(col, n)
    base = (
        (lambda s: md5_h64(s)) if hash_fn == "md5"
        else (lambda s: F.xxhash64(s))
    )
    hs = F.transform(sh, lambda s: F.pmod(base(s), F.lit(MINHASH_P)))
    # single-pass k-minima (see _minhash_sig_expr) instead of k separate
    # array_min(transform(...)) columns — same values, one scan
    sig = _minhash_sig_expr(hs, k)
    per_doc = df.select(
        F.col(strata_col).alias("src"), sig.alias("__sig__")
    ).select(
        "src", *[F.col("__sig__")[i].alias(f"h{i}") for i in range(k)]
    )
    per_src = per_doc.groupBy("src").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(k)]
    )
    a, b = per_src.alias("a"), per_src.alias("b")
    n_match = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return (
        a.join(F.broadcast(b), F.col("a.src") < F.col("b.src"))
        .select(
            F.col("a.src").alias("source_a"),
            F.col("b.src").alias("source_b"),
            n_match.alias("n_match"),
            (n_match / F.lit(float(k))).alias("est_jaccard"),
        )
    )
