"""Deduplication operators for document-scale corpora: exact,
MinHash+LSH, SimHash, and n-gram Jaccard (north-star extension,
SURVEY.md §7.4).

All hashing is deterministic (xxhash64 / md5 built-ins with fixed
permutation constants) so results are reproducible run-to-run.

One near-dup pipeline
---------------------
Every near-dup operator runs the same stages, each written once and
handed its hash basis as an argument:

1. shingle — :func:`_shingle_frame`: (id, *block_cols, grams), each
   document's distinct character n-grams as xxhash64 longs, or as
   strings for the md5 basis (:func:`md5_gram_sets`).
2. signature — :func:`_minhash_signatures`: per row, the minimum of
   each permutation ``perm(i)`` over the gram array
   (:func:`_xxhash_perm`, a modular family over the hashed grams, or
   :func:`_md5_perm`, ``md5("i:" || gram)``). SimHash's signature is
   one bit-vote aggregate over per-token hashes of a given width
   (:func:`_simhash_table`).
3. band — :func:`_lsh_candidates`: one bucket per band (``xxhash64``
   or ``md5`` of the band's components), a bucket self-join, distinct
   (id_a < id_b) candidates. SimHash bands by pigeonhole chunks of a
   64- or 32-bit signature (:func:`hash64_near_dup_pairs`).
4. verify — :func:`_verify_jaccard_candidates`: exact Jaccard per
   candidate, over gram bitmaps when the block (or, unblocked, the
   global) vocabulary fits ``_BITMAP_VOCAB_CAP`` and over the gram
   arrays otherwise. SimHash verifies ``bit_count(a XOR b)``.

The basis is chosen only at the public entry points. The xxhash64
fast paths (:func:`minhash_near_duplicates`,
:func:`simhash_near_duplicates`) are engine-specific; their md5 twins
(:func:`minhash_near_duplicates_md5`,
:func:`simhash_near_duplicates_md5`) reproduce bit-for-bit in plain
SQL, and the registered audit queries value-check them against
DuckDB — the independent reference for the shared stages. The n-gram
Jaccard family (:func:`ngram_jaccard_pairs`,
:func:`jaccard_prefix_filter_pairs`, :func:`similarity_join`) reuses
stages 1 and 4 with exact inverted-index or prefix-filter candidates
in place of LSH banding.

Scale notes
-----------
- Exact dedup is a hash shuffle on the dedup key — at 100 TB,
  dedup on ``md5(normalized_text)`` (16-byte key) instead of the
  full text to shrink shuffle width.
- Signatures are narrow per-row maps; candidate generation shuffles
  only (id, band hash) rows, and verification joins only the
  candidates. Buckets with pathological collision counts are handled
  by AQE skew-splitting of the self-join.
- SimHash votes are pure JVM expressions; candidates come from
  ``max_hamming + 1`` chunk banding, lossless at any threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_processing_spark.functions.text import (
    char_ngram_hashes_of_norm,
    char_ngrams_of_norm,
    md5_fingerprint,
    normalize_text,
    tokens,
)

from big_data_processing_spark.partitioning import spread as _spread

# Mersenne prime 2^31 - 1: modular universal-hash family for MinHash.
_MERSENNE = (1 << 31) - 1
# Deterministic permutation constants (a, b) — fixed small PRNG-free
# sequence derived from the permutation index.
_A = [2 * i + 1 for i in range(1, 129)]  # odd multipliers
_B = [(i * i * 7919 + 13) % _MERSENNE for i in range(1, 129)]


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (generalizes A7,
    reference data_validator.py:128-129)."""
    return df.dropDuplicates(subset)


def novelty_filter(
    delta: DataFrame,
    baseline: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental-ingest dedup: keep only ``delta`` documents whose
    md5-of-normalized-text fingerprint does NOT already exist in
    ``baseline`` — the at-scale alternative to re-deduplicating the
    whole corpus when a new batch arrives.

    Spark-first shape: a ``left_anti`` join on the 16-byte
    fingerprint. Neither side ships document text — delta projects
    (id, fingerprint) and baseline just its fingerprint column — so
    at 100 TB the shuffle moves ~48 bytes/doc. Catalyst broadcasts
    the baseline store when its fingerprint projection fits the
    threshold (a 1B-doc store is ~32 GB — a keyed shuffle, which
    anti-join handles with the same plan); either way the delta
    batch, typically orders of magnitude smaller than the corpus,
    is the streamed side.
    """
    fp = md5_fingerprint(F.col(text_col)).alias("fingerprint")
    base_fp = baseline.select(
        md5_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()
    return (
        delta.select(F.col(id_col), fp)
        .join(base_fp, "fingerprint", "left_anti")
        .select(id_col, "fingerprint")
    )


def dedup_by_fingerprint(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep one representative (min id) per md5-normalized-text
    fingerprint. Shuffles the 32-hex-char fingerprint, not the
    document text — the 100 TB-friendly exact dedup."""
    fp = md5_fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_cols: Sequence[str] = (),
    grams_of=char_ngram_hashes_of_norm,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, *block_cols, grams): each document's distinct character
    n-grams, spread by id for the CPU-dense shingling. ``grams_of``
    is the gram basis — hashed longs by default, strings
    (``char_ngrams_of_norm``) for the md5 twins.

    Normalization is its own projection so the regex runs once per
    row: inlined into the shingler it re-executes per gram (see
    ``text.char_ngrams``). ``drop_empty`` removes documents with no
    shingle as ``length(nrm) >= n`` BEFORE shingling, never as
    ``size(grams) > 0`` after it: Catalyst pushes a post-hoc size()
    filter below both projections with ``normalize_text`` re-inlined
    into the per-ELEMENT substr lambda — one regex per shingle,
    measured 15.7 s vs 0.8 s at sf0.1."""
    keep = [F.col(id_col), *[F.col(c) for c in block_cols]]
    nrm = _spread(df.select(*keep, F.col(text_col)), id_col).select(
        *keep, normalize_text(F.col(text_col)).alias("nrm")
    )
    if drop_empty:
        nrm = nrm.filter(F.length("nrm") >= n)
    return nrm.select(*keep, grams_of(F.col("nrm"), n).alias("grams"))


# MinHash permutation families: ``perm(i)`` maps one gram to its
# value under permutation i. Bound through an outer closure because
# ``F.transform`` passes (element, index) to any two-argument
# callable — ``lambda g, i=i: ...`` would silently receive the ARRAY
# INDEX as ``i``.
def _xxhash_perm(i: int):
    """Permutation i of an xxhash64 gram: ``(a·g + b) mod 2^31-1``."""
    return lambda g: (F.pmod(g, F.lit(_MERSENNE)) * _A[i] + _B[i]) % _MERSENNE


def _md5_perm(i: int):
    """Permutation i of a string gram: ``md5("i:" || gram)``."""
    return lambda g: F.md5(F.concat_ws(":", F.lit(str(i)), g))


def _minhash_signatures(
    shingles: DataFrame, id_col: str, num_perm: int, perm
) -> DataFrame:
    """(id, m0..m{k-1}): component i is the minimum of ``perm(i)``
    over the row's gram array — a narrow per-row map with ZERO
    shuffles. Min over a distinct gram array equals min over the
    exploded (id, gram) group; the explode → distinct → join →
    groupBy-min formulation it replaced shuffled every gram instance
    (md5 basis measured 9.9 s vs 1.0 s at sf0.1, bit-identical). A
    document with an empty array gets null components; callers drop
    those rows first."""
    return shingles.select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("grams"), perm(i))).alias(f"m{i}")
            for i in range(num_perm)
        ],
    )


def _lsh_candidates(
    sig: DataFrame, id_col: str, num_perm: int, bands: int, bucket
) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of documents sharing a band
    bucket: band b hashes components ``b·r .. b·r+r-1`` (``r =
    num_perm // bands``) with ``bucket`` (``F.xxhash64`` or
    ``F.md5``), and the banded rows self-join on (band, bucket). Only
    ids and band hashes shuffle."""
    rows = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            bucket(
                F.concat_ws(",", *[
                    F.col(f"m{b * rows + r}").cast("string")
                    for r in range(rows)
                ])
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    return (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """MinHash signatures as (id, m0..m{k-1}) — one column per
    permutation, on the xxhash64 basis of
    :func:`minhash_near_duplicates`. Docs with no shingles drop out
    (they have no near-dup semantics)."""
    shingles = _shingle_frame(df, text_col, id_col, shingle_n, drop_empty=True)
    return _minhash_signatures(shingles, id_col, num_perm, _xxhash_perm)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.6,
    pin_result: bool = True,
    grams: DataFrame | None = None,
    bits: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs on the xxhash64 basis with
    exact-Jaccard verification. Returns (id_a, id_b, jaccard),
    id_a < id_b.

    ``grams`` / ``bits`` accept pre-built, ideally session-memoized
    frames on the STRING gram basis (:func:`md5_gram_sets` / the
    gram-bitmap frame from ``plans.doc_clusters.md5_gram_bits``) —
    the same contract as the md5 twin. ``xxhash64`` over a distinct
    string-gram set IS the distinct hash set this path shingles
    itself (``array_min`` is duplicate-insensitive, so a 64-bit
    collision cannot change a signature), and the bitmaps count the
    same distinct-gram sets, so the jaccard values are identical.
    With both frames this path never rescans the corpus; without
    ``bits``, :func:`_verify_jaccard_candidates` picks bitmaps or
    arrays from the global vocabulary of the hashed grams.

    ``pin_result`` (default on) ends with a lazy ``localCheckpoint``
    of the verified pairs: callers sort them, and range partitioning
    SAMPLES its child, re-executing the band join + verify a second
    time. Pass ``False`` when the caller re-materializes the pairs.

    The hashed gram frame is pinned NOW: it feeds the signatures, the
    vocabulary statistic and the verify joins, whose broadcast jobs
    launch concurrently — a lazy pin re-runs the shingle pipeline
    once per reference. Pinned, projection collapse also cannot
    inline the per-row ``xxhash64`` into each of the ``num_perm``
    signature transforms (measured 21.7 s + 16.7 s cumulative CPU for
    the two band sides at sf0.1). The banded frame is not pinned:
    both self-join sides re-derive it from the pinned grams as
    concurrent jobs, cheaper than one more serial action.

    Scaling note (the 30× sf0.1→sf1 bench slope, SCALE.md): the
    superlinear number is OUTPUT-driven — the sf1 corpus contains
    ~250k true near-dup pairs vs ~250 at sf0.1, so candidates,
    verification and the result grow ~1000× while the input grows
    10×. The md5 twin pins the pairs (sf1 gate: 249,490 twin pairs
    value-checked, fast path re-finds 99.77% —
    ``minhash_fastpath_audit``). On a corpus whose dup rate is
    constant in corpus size, this path is linear in input plus
    output."""
    from big_data_processing_spark.partitioning import pin_now

    if grams is not None:
        shingled = pin_now(grams.select(
            F.col(id_col),
            F.array_distinct(
                F.transform(F.col("grams"), lambda g: F.xxhash64(g))
            ).alias("grams"),
        ))
    else:
        shingled = pin_now(_shingle_frame(df, text_col, id_col, shingle_n))
    sig = _minhash_signatures(
        shingled.filter(F.size("grams") > 0), id_col, num_perm, _xxhash_perm
    )
    cand = _lsh_candidates(sig, id_col, num_perm, bands, F.xxhash64)
    return _verify_jaccard_candidates(
        shingled, cand, id_col, threshold, pin_result=pin_result, bits=bits
    )


def _simhash_table(hashed: DataFrame, id_col: str, width: int) -> DataFrame:
    """(id, h) token-hash rows → (id, simhash): bit i of the
    ``width``-bit signature is set when more of the document's tokens
    (with multiplicity) have bit i set than clear; ties clear it.

    Bit-EXPLODED formulation: (token, bit) rows → ``sum(±1)`` votes
    per (doc, bit) → signs recombined by a second tiny aggregate.
    The ``width``×-row explode looks wasteful but wins decisively
    over a vote-column-per-bit single aggregate (measured 2× cold, 4×
    warm at 64 bits): the expression tree is ~64× smaller and both
    aggregations run map-side partial, so the shuffle carries ≤
    ``width`` small rows per doc per partition. ``shiftleft(1L, 63)``
    is the sign bit, so a 64-bit signature is a plain long."""
    votes = (
        hashed.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(width - 1))).alias("bit"),
            "h",
        )
        .select(
            id_col,
            "bit",
            F.expr("(shiftright(h, bit) & 1) * 2 - 1").alias("v"),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("v").alias("vs"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vs") > 0, F.expr("shiftleft(1L, bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def simhash64_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document as (id, simhash long): xxhash64
    votes over the whitespace tokens of the normalized text."""
    token = F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t")
    hashed = (
        _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), token)
        .select(id_col, F.xxhash64("t").alias("h"))
    )
    return _simhash_table(hashed, id_col, 64)


def hash64_near_dup_pairs(
    frame: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    width: int = 64,
) -> DataFrame:
    """Near-dup pairs over ANY signature column of ``width`` bits
    (64: SimHash, image dHash, audio fingerprint; 32: the md5 SimHash
    twin): the bits are split into ``max_hamming + 1`` contiguous
    chunks, so a pair within the threshold has at least one chunk
    equal by pigeonhole — banding is LOSSLESS at any threshold (r9
    ADVICE: a fixed 4-chunk split silently under-recalled past
    max_hamming 3). Candidates are verified with
    ``bit_count(a XOR b) <= max_hamming``. Returns
    (id_a, id_b, hamming) with id_a < id_b. The self-join shuffles
    (id, hash, chunk key) rows only: (max_hamming + 1) × 20-ish
    bytes per row at any corpus size — larger thresholds pay more
    bands AND denser buckets, the honest LSH trade."""
    if not 0 <= max_hamming < width:
        raise ValueError(
            f"max_hamming must be in 0..{width - 1}, got {max_hamming} "
            f"({width}-bit signatures cannot band beyond {width - 1})"
        )
    n = max_hamming + 1
    bounds = [width * c // n for c in range(n + 1)]

    def chunk_key(c: int):
        lo, chunk_width = bounds[c], bounds[c + 1] - bounds[c]
        if chunk_width >= width:  # max_hamming=0: exact-equality join
            return F.col(hash_col)
        return F.shiftrightunsigned(hash_col, lo).bitwiseAND(
            F.lit((1 << chunk_width) - 1)
        )

    chunks = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            chunk_key(c).alias("key"),
        )
        for c in range(n)
    ])
    banded = frame.select(
        id_col, hash_col, F.explode(chunks).alias("cc")
    ).select(id_col, hash_col, "cc.chunk", "cc.key")

    left = banded.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"),
        "chunk", "key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"),
        "chunk", "key",
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        left.join(right, on=["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _simhash_pairs(
    sim: DataFrame, id_col: str, max_hamming: int, width: int
) -> DataFrame:
    """Chunk-banded pairs of an (id, simhash) table. The self-join
    references the table on both sides, so it is pinned lazily once
    instead of re-voting every bitplane twice; spread first so the
    checkpoint doesn't freeze an AQE-coalesced 1-partition layout."""
    pinned = _spread(sim, id_col).localCheckpoint(eager=False)
    return hash64_near_dup_pairs(pinned, id_col, "simhash", max_hamming, width)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs on the 64-bit xxhash64 basis
    (:func:`simhash64_table`), chunk-banded and verified with
    ``bit_count(a XOR b) <= max_hamming`` by
    :func:`hash64_near_dup_pairs`."""
    return _simhash_pairs(
        simhash64_table(df, text_col, id_col), id_col, max_hamming, 64
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    allow_quadratic: bool = False,
    pin_result: bool = True,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity for all pairs sharing a
    blocking key (e.g. language + length bucket). Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    Blocking keeps the self-join from being quadratic ACROSS blocks,
    but within a block the inverted-index candidate work is
    Σ_gram df(gram)² — quadratic in block size when grams are
    ubiquitous (small-vocabulary corpora: measured 101× partials for
    10× data on the sf1 scale replica). ``max_df`` is the scale
    valve: candidate pairs are generated only from grams whose
    block-local document frequency is ≤ max_df (bounding candidate
    work at max_df × corpus grams — linear), then each candidate's
    Jaccard is verified EXACTLY on the full gram sets, so every
    returned value is exact and every returned pair is real. The
    approximation is one-sided recall: a pair sharing ONLY
    ubiquitous grams is missed — precisely the pairs whose shared
    evidence is least discriminative (the stop-word-dropping
    standard from the similarity-join literature). ``max_df=None``
    (default) is fully exact — and soft-guarded: past ~2 GiB of
    input (≈ sf2 here; measured 77-133× slope per 10× data,
    SCALE.md) a RuntimeWarning points at the ``max_df`` valve;
    ``allow_quadratic=True`` acknowledges the cost
    (partitioning.warn_if_quadratic)."""
    if not threshold > 0.0:
        # validated BEFORE the base frame: the eager checkpoint below
        # materializes the whole normalize+shingle pipeline, so a
        # bad-argument call must not pay a Spark job first (r11
        # ADVICE)
        raise ValueError(
            "threshold must be > 0: the inverted-index formulation "
            "never sees pairs with an empty intersection"
        )
    if max_df is None:
        from big_data_processing_spark.partitioning import (
            warn_if_quadratic,
        )

        warn_if_quadratic(
            df, "ngram_jaccard_pairs(max_df=None)",
            allow_quadratic=allow_quadratic,
        )
    from big_data_processing_spark.partitioning import pin_now

    # referenced 4× below (sizes both sides, grams both sides).
    # Materialized NOW (pin_now): the verify joins broadcast both
    # sides, and those BroadcastExchange jobs launch CONCURRENTLY —
    # with a purely lazy checkpoint each one recomputes the
    # normalize+shingle pipeline before any blocks exist (measured at
    # sf0.1: the gram subtree executed 3× in one build, two of them
    # as simultaneous broadcast jobs).
    base = pin_now(_shingle_frame(df, text_col, id_col, n, block_cols))
    if max_df is not None:
        # one gram-df aggregate serves the candidate cap AND the
        # verifier's bitmap dispatch — vocab-sized, cheap to hold
        gram_df = _gram_df(base, block_cols).localCheckpoint(eager=False)
        cand = _capped_candidates(base, block_cols, id_col, max_df, gram_df)
        return _verify_jaccard_candidates(
            base, cand, id_col, threshold, pin_result=pin_result,
            gram_df=gram_df, block_cols=block_cols,
        )
    # Inverted-index formulation: explode grams, self-join on
    # (block, gram), COUNT shared grams per pair with map-side
    # partial aggregation. The shuffle carries (id_a, id_b, count)
    # partials — never the gram arrays themselves (the pair-array
    # alternative shuffled both ~300-long arrays per candidate pair:
    # GBs at sf0.1, measured ~2.5× slower). Zero-intersection pairs
    # simply never appear, which is exact for any threshold > 0.
    exploded = _gram_rows(base, block_cols, id_col)
    inter_counts = (
        exploded.select(*block_cols, F.col(id_col).alias("id_a"), "g")
        .join(
            exploded.select(
                *block_cols, F.col(id_col).alias("id_b"), "g"
            ),
            on=[*block_cols, "g"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = base.select(F.col(id_col), F.size("grams").alias("sz"))
    pairs = inter_counts.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
        on="id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
        on="id_b",
    )
    return _jaccard_at_least(pairs, threshold)


def _gram_rows(
    base: DataFrame, block_cols: Sequence[str], id_col: str
) -> DataFrame:
    """(*block_cols, id, g): one row per distinct gram of a shingle
    frame."""
    return base.select(
        *block_cols, F.col(id_col), F.explode("grams").alias("g")
    )


def _gram_df(base: DataFrame, block_cols: Sequence[str]) -> DataFrame:
    """(*block_cols, g, __df): block-local document frequency of each
    gram — the statistic the df cap, the prefix order, the plan
    choice and the bitmap dispatch all key on."""
    return (
        base.select(*block_cols, F.explode("grams").alias("g"))
        .groupBy(*block_cols, "g")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) → (id_a, id_b, jaccard) with
    the exact ``|A∩B| / (|A|+|B|−|A∩B|)`` rounded to 6 places, kept
    where it reaches ``threshold``. The size identity is exact over
    distinct-gram sets and never materializes a union per pair —
    ``array_union`` allocated ~|A|+|B| elements per candidate and
    made the verify stage wildly unstable at sf0.1 (2-20 s wall,
    419 s CPU worst case for 158k candidates)."""
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.when(
        union > 0, F.col("inter").cast("double") / union
    ).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Block-vocabulary ceiling for the bitmap exact verifier: with
#: ``vocab`` distinct grams in a block, each document's gram set is
#: ``ceil(vocab/64)`` longs; 4096 → ≤64 words ANDed+popcounted per
#: candidate pair, still well under the hash-set cost of
#: ``array_intersect`` on typical (hundreds-long) gram arrays.
_BITMAP_VOCAB_CAP = 4096


def _max_block_vocab(gram_df: DataFrame, block_cols: Sequence[str]) -> int:
    """Largest per-block distinct-gram count — the statistic the
    bitmap-verify dispatch keys on. One vocab-sized aggregate job;
    without block columns, the row count of the global vocabulary."""
    if not block_cols:
        return gram_df.count()
    row = (
        gram_df.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("__v"))
        .agg(F.max("__v").alias("__mv"))
        .collect()[0]
    )
    return int(row["__mv"] or 0)


def _block_gram_dicts(
    gram_df: DataFrame, block_cols: Sequence[str]
) -> DataFrame:
    """Flat per-block dense gram dictionary for the bitmap verifier:
    (*block_cols, g, __w word index, __b single-bit mask). Gram ids
    are assigned by ``row_number`` over the block's grams in gram
    order — deterministic, and irrelevant to the result (any
    bijection gives the same intersection sizes). ``block_cols``
    may be empty (unblocked operators like MinHash): the dictionary
    is then global. Kept FLAT so the bitmap build attaches it with
    a broadcast HASH join — a ``map``-typed dictionary probed per
    element was measured at ~50 s CPU per build: Spark's
    ``element_at`` on a map is a LINEAR key scan, not a hash
    lookup."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        *[F.col(c) for c in block_cols]
    ).orderBy("g")
    return (
        gram_df.select(*block_cols, "g")
        .withColumn("__gid", F.row_number().over(w) - F.lit(1))
        .select(
            *block_cols,
            "g",
            F.shiftright("__gid", 6).cast("int").alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), __gid % 64)").alias(
                "__b"
            ),
        )
    )


def _bitmap_doc_frame(
    base: DataFrame,
    block_cols: Sequence[str],
    id_col: str,
    dicts: DataFrame,
    n_words: int,
) -> DataFrame:
    """(id, __sz, __bits) — each document's distinct-gram set as an
    ``n_words``-long bitmap under its block's dictionary. One
    broadcast hash join (gram → word/bit) over the exploded gram
    table, then two aggregates — (id, word) → OR of bit masks, then
    id → word map — both collapsed by map-side partial aggregation
    inside the scan partition (``base`` is id-partitioned), so no
    new shuffle and every op is codegen'd JVM work. The two-level
    shape keeps per-input-row work CONSTANT in ``n_words`` (a
    single-level form with one ``bit_or(when(...))`` aggregate per
    word paid n_words conditionals per gram instance). A
    trailing-zero-padded global width is exact: AND of zero words
    adds zero popcount."""
    ent = _gram_rows(base, block_cols, id_col).join(
        F.broadcast(dicts), on=[*block_cols, "g"]
    )
    zero = F.lit(0).cast("long")
    perword = ent.groupBy(id_col, "__w").agg(
        F.bit_or("__b").alias("__word"),
        F.count(F.lit(1)).alias("__c"),
    )
    out = (
        perword.groupBy(id_col)
        .agg(
            F.sum("__c").cast("int").alias("__sz"),
            F.map_from_entries(
                F.collect_list(F.struct("__w", "__word"))
            ).alias("__wm"),
        )
        .select(
            F.col(id_col),
            "__sz",
            # ≤ n_words entries per map: the linear element_at probe
            # is bounded by n_words², fine at dictionary scale
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda w: F.coalesce(
                    F.element_at(F.col("__wm"), w), zero
                ),
            ).alias("__bits"),
        )
    )
    # referenced by BOTH sides of the verify join (two broadcast
    # jobs launched concurrently): a purely lazy pin loses that
    # race and both sides rebuild every bitmap (r11 ADVICE), and
    # eager=True materializes through Dataset.checkpoint's internal
    # rdd.count() — measured 8.0 s stage CPU where the normal
    # execution of the same projection costs 1.3 s (see pin_now)
    from big_data_processing_spark.partitioning import pin_now

    return pin_now(out)


def _gram_bitmaps(
    base: DataFrame,
    id_col: str,
    gram_df: DataFrame | None = None,
    block_cols: Sequence[str] = (),
) -> DataFrame | None:
    """Per-document gram bitmaps of the (id, *block_cols, grams)
    frame ``base`` (:func:`_bitmap_doc_frame`), or ``None`` when the
    largest block vocabulary is empty or exceeds
    ``_BITMAP_VOCAB_CAP`` — a bitmap would then be wider than the
    gram array itself. The vocabulary comes from the caller's
    (pinned) per-block ``gram_df``; without one, the distinct grams
    of ``base`` are found in one vocab-sized pass and pinned lazily,
    since the dictionary build reads them again."""
    if gram_df is None:
        gram_df = (
            base.select(*block_cols, F.explode("grams").alias("g"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    vocab = _max_block_vocab(gram_df, block_cols)
    if not 0 < vocab <= _BITMAP_VOCAB_CAP:
        return None
    return _bitmap_doc_frame(
        base, block_cols, id_col, _block_gram_dicts(gram_df, block_cols),
        (vocab + 63) // 64,
    )


def _verify_jaccard_candidates(
    base: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
    pin_result: bool = True,
    gram_df: DataFrame | None = None,
    block_cols: Sequence[str] = (),
    bits: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of a candidate pair set against the
    (id, grams) sets in ``base``; only the candidates pay per-pair
    work, and every returned value is exact.

    The set representation is chosen here. ``bits`` (a pre-built,
    ideally memoized :func:`_bitmap_doc_frame` over the same grams)
    is used as given; otherwise :func:`_gram_bitmaps` builds one when
    the vocabulary — per block from ``gram_df``, or global without
    block columns — fits ``_BITMAP_VOCAB_CAP``. On bitmaps ``|A∩B|``
    is the summed popcount of the pairwise AND, a few dozen long ops
    per candidate instead of ``array_intersect``'s per-pair hash-set
    build over hundreds of elements (measured at sf0.1: the array
    verifier was the suite's single largest CPU sink, 118 s executor
    CPU for 585k candidates in one build). Large vocabularies keep
    the gram arrays. Both count the same distinct-gram sets, so the
    values are IDENTICAL.

    Two measured plan hazards (r11 optimization, sf0.1 stage
    metrics):

    - the candidate frame enters this CPU-dense join tiny in BYTES
      (~20 B/row), so a keyed spread is planner-eliminated and the
      surviving distinct exchange AQE-coalesces to a handful of
      tasks — 2/3 of the query's CPU on 4 of 32 cores. The keyless
      :func:`spread_even` exchange cannot be eliminated or coalesced.
    - callers sort the verified pairs (`orderBy` in the registered
      queries): range partitioning SAMPLES its child, re-executing
      this whole join+intersect pipeline a second time (measured as
      two ~33 s-executor-time stages for one query). The lazy
      localCheckpoint pins the (small) verified result so the range
      sampler scans cached pair rows instead of recomputing the
      candidate pipeline. Together: ngram_jaccard_prefix full pass
      29.0 s -> 5.7 s at sf0.1, identical output.

    ``pin_result=False`` skips the tail checkpoint for callers that
    immediately re-materialize the pairs themselves (the cluster
    builder eagerly checkpoints its symmetrized edge list) — a
    second pin there is pure overhead."""
    from big_data_processing_spark.partitioning import spread_even

    if bits is None:
        bits = _gram_bitmaps(base, id_col, gram_df, block_cols)
    if bits is not None:
        sets = bits.select(
            F.col(id_col), "__sz", F.col("__bits").alias("__set")
        )

        def inter(a, b):
            return F.aggregate(
                F.zip_with(
                    a, b,
                    lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda s, v: s + v,
            )
    else:
        sets = base.select(
            F.col(id_col), F.size("grams").alias("__sz"),
            F.col("grams").alias("__set"),
        )

        def inter(a, b):
            return F.size(F.array_intersect(a, b))

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("__sz").alias(f"sz_{s}"),
            F.col("__set").alias(f"__set_{s}"),
        )

    verified = (
        spread_even(cand)
        .join(side("a"), on="id_a")
        .join(side("b"), on="id_b")
        .select(
            "id_a", "id_b",
            inter(F.col("__set_a"), F.col("__set_b")).alias("inter"),
            "sz_a", "sz_b",
        )
    )
    out = _jaccard_at_least(verified, threshold)
    return out.localCheckpoint(eager=False) if pin_result else out


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    pin_result: bool = True,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity join via PREFIX FILTERING
    (the AllPairs / SSJoin candidate generator: sort each gram set by
    one canonical rarity order, index only each set's first
    ``sz - ceil(t*sz) + 1`` grams, and join on those). FULL recall at
    the given threshold — unlike the ``max_df`` valve on
    :func:`ngram_jaccard_pairs`, no pair is ever missed: if
    J(A,B) >= t then |A∩B| >= ceil(t*|A|), so by pigeonhole A and B
    must share a gram inside both prefixes under ANY shared total
    order. Candidates are then verified exactly on the full gram sets
    (same verifier as the max_df path), so precision is exact too.
    This is :func:`similarity_join` with its plan fixed to the prefix
    filter (``auto=False``).

    Scale posture: candidate work is Σ_gram prefix-df(gram)² — the
    canonical order puts each set's RAREST grams in its prefix, so
    ubiquitous grams never generate candidates unless the threshold
    demands a long prefix. Work is output-sensitive: at high
    thresholds (t >= 0.6, prefix <= 40% of each set) the candidate
    set approaches the true pair set; at low thresholds prefixes
    lengthen and the generator degrades toward the full inverted
    index — use ``ngram_jaccard_pairs(max_df=...)`` there instead.
    The length filter (t·|A| <= |B| <= |A|/t) prunes cross-size
    candidates before the distinct.

    Float-boundary care: the required-overlap bound ceil(t·sz) is
    computed as ``ceil(t*sz - 1e-6)`` so a binary-float product that
    lands just ABOVE an exactly-achievable integer (0.3*10 =
    3.0000000000000004) cannot shorten the prefix below what the
    pigeonhole argument needs; the length filter is relaxed by the
    same epsilon in the safe direction. Both only ever ADMIT more
    candidates — the exact verifier keeps the result set identical.
    """
    return similarity_join(
        df, text_col, id_col, block_cols, n=n, threshold=threshold,
        auto=False, pin_result=pin_result,
    )


def _prefix_filter_candidates(
    base: DataFrame,
    block_cols: list[str],
    id_col: str,
    threshold: float,
    gram_df: DataFrame | None = None,
) -> DataFrame:
    """The AllPairs candidate generator behind
    :func:`jaccard_prefix_filter_pairs`, pre-verification: distinct
    (id_a, id_b) pairs surviving the prefix + length filters.
    Exposed separately so the pruning behavior is directly
    observable — tests assert |candidates| shrinks with threshold
    and sits strictly below the full intra-block pair count, and
    the adaptive dispatch estimates its cost from the same gram-df
    statistics this generator keys on. ``base`` is the
    (*block_cols, id, grams) frame the caller checkpointed."""
    exploded = _gram_rows(base, block_cols, id_col)
    # canonical per-block total order: (document frequency asc, gram
    # asc). Any one shared order is correct; rarity-first makes the
    # prefix the least-collisional slice of each set. A caller that
    # already aggregated the gram table (the adaptive dispatch)
    # passes it in so the agg runs once per query, not per stage.
    if gram_df is None:
        gram_df = _gram_df(base, block_cols)
    req_overlap = F.ceil(
        F.lit(threshold) * F.size("__sorted") - F.lit(1e-6)
    )
    prefixes = (
        exploded.join(gram_df, on=[*block_cols, "g"])
        .groupBy(*block_cols, id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__df", "g"))).alias(
                "__og"
            )
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.transform("__og", lambda s: s["g"]).alias("__sorted"),
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.size("__sorted").alias("__sz"),
            F.slice(
                "__sorted",
                F.lit(1),
                (F.size("__sorted") - req_overlap + F.lit(1)).cast("int"),
            ).alias("__prefix"),
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.col("__sz"),
            F.explode("__prefix").alias("g"),
        )
    )
    eps = F.lit(1e-6)
    # NB: an explicit keyed repartition of `prefixes` (the
    # _capped_candidates treatment) was tried and REVERTED: measured
    # 4.5 -> 6.3 s on ngram_jaccard_prefix at sf0.1 — the prefix
    # table is larger than the rare-gram table and the forced
    # exchange cost more than the width it bought.
    cand = (
        prefixes.select(
            *block_cols,
            F.col(id_col).alias("id_a"),
            F.col("__sz").alias("__sa"),
            "g",
        )
        .join(
            prefixes.select(
                *block_cols,
                F.col(id_col).alias("id_b"),
                F.col("__sz").alias("__sb"),
                "g",
            ),
            on=[*block_cols, "g"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t  ⇒  t·|A| <= |B| and t·|B| <= |A|
        .filter(
            (F.col("__sa") * F.lit(threshold) <= F.col("__sb") + eps)
            & (F.col("__sb") * F.lit(threshold) <= F.col("__sa") + eps)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return cand


def choose_similarity_plan(
    base: DataFrame,
    block_cols: list[str],
    id_col: str,
    threshold: float,
    max_df: int,
    cost_ratio: float = 1.0,
    gram_df: DataFrame | None = None,
) -> dict:
    """Estimate, from MEASURED gram-df statistics, whether the
    prefix-filter or the df-capped inverted index is the cheaper
    candidate generator for this corpus, and return the decision
    with its evidence. ``base`` is the (*block_cols, id, grams)
    frame both generators start from.

    Candidate work for an inverted index is Σ_gram df·(df−1)/2 over
    whatever grams get indexed. The two generators index different
    slices:

    - capped: every gram with block-local df ≤ max_df →
      ``w_capped = Σ_{df≤max_df} df·(df−1)/2`` (exact, measured).
    - prefix: each doc's sz−ceil(t·sz)+1 RAREST grams. True work is
      Σ_gram prefix-df², unknowable without building the prefixes,
      but the total prefix mass IS known (``prefix_slots`` =
      Σ_docs(sz−ceil(t·sz)+1)) and rarity-first filling means the
      mass lands on the low-df end of the measured df distribution:
      fill grams greedily in (df asc) order until the slots are
      spent and charge o·(o−1)/2 per gram at its filled occupancy
      ``o`` → ``w_prefix_est``. An estimate, not a bound (per-doc
      constraints can push mass onto commoner grams), but on the
      corpora that matter the two estimates differ by orders of
      magnitude, not factors: the 377-distinct-gram documents table
      (prefix slots can only land on ubiquitous grams →
      w_prefix_est ≈ 10⁴× w_capped at sf0.01) vs a natural-vocab
      corpus (df mostly 1-2, cap a no-op → w_prefix_est < w_capped).

    Cost: one groupBy over the exploded gram table (the same agg
    both generators' first stage runs anyway), one vocab-sized
    window cumsum, two scalar collects. Returns
    ``{"plan": "prefix"|"capped", "w_prefix_est", "w_capped",
    "prefix_slots"}`` — prefix wins ties at ``cost_ratio`` 1.0
    since it is the full-recall plan.

    All arithmetic is INTEGER (pair counts; c·(c−1) is always even,
    so DIV 2 is exact), which makes the decision bit-reproducible in
    any engine from the same corpus — the registered oracle
    (similarity_join_auto) recomputes these statistics in DuckDB SQL
    and checks the output of whichever plan the statistics choose,
    so the hash gate covers the DISPATCH, not just a plan's output.
    Tie order among equal-df grams doesn't matter: the greedy-fill
    sum depends only on the df-sorted multiset (equal-df grams are
    interchangeable at the slot boundary)."""
    from pyspark.sql.window import Window

    eps = F.lit(1e-6)
    slots_expr = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams") - eps)
        + F.lit(1)
    )
    prefix_slots = int(
        base.agg(F.sum(slots_expr).alias("s")).collect()[0]["s"] or 0
    )
    if gram_df is None:
        gram_df = _gram_df(base, block_cols)

    def pair_work(c):
        # c·(c−1) is even, so the shift is exact integer division —
        # no double intermediates that could round past 2^53
        return F.shiftright((c * (c - F.lit(1))).cast("long"), 1)

    w = (
        Window.orderBy(F.col("__df"), *block_cols, "g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    occupancy = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.col("__df"),
            F.lit(prefix_slots) - (F.col("__cum") - F.col("__df")),
        ),
    )
    row = (
        gram_df.withColumn("__cum", F.sum("__df").over(w))
        .agg(
            F.sum(
                F.when(
                    F.col("__df") <= max_df, pair_work(F.col("__df"))
                ).otherwise(F.lit(0))
            ).cast("long").alias("w_capped"),
            F.sum(pair_work(occupancy)).cast("long").alias(
                "w_prefix_est"
            ),
        )
        .collect()[0]
    )
    w_capped = int(row["w_capped"] or 0)
    w_prefix = int(row["w_prefix_est"] or 0)
    return {
        "plan": "prefix" if w_prefix <= cost_ratio * w_capped else "capped",
        "w_prefix_est": w_prefix,
        "w_capped": w_capped,
        "prefix_slots": prefix_slots,
    }


def similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 200,
    auto: bool = True,
    cost_ratio: float = 1.0,
    pin_result: bool = True,
) -> DataFrame:
    """N-gram Jaccard similarity join with ADAPTIVE plan dispatch:
    measure the corpus's gram-df distribution (one agg over the
    gram table — :func:`choose_similarity_plan`) and pick whichever
    exact-verified candidate generator is cheaper for THIS corpus
    instead of leaving the choice to a docstring:

    - prefix filter (:func:`jaccard_prefix_filter_pairs`) — full
      recall, output-sensitive; right when the vocabulary is rich
      enough that rare grams exist for every prefix. On the
      low-vocab worst case it degrades badly (measured 3× the
      capped sibling at sf0.1 and 336 s cold at sf1 on the
      377-gram documents corpus — the motivating case).
    - df-capped inverted index (:func:`ngram_jaccard_pairs` with
      ``max_df``) — linear candidate work, one-sided recall valve
      (pairs sharing ONLY >max_df ubiquitous grams are missed,
      the stop-word-dropping standard).

    Both verify candidates exactly on the full gram sets, so
    precision is always exact; the dispatch trades the recall valve
    against candidate-work blowup per corpus shape. ``auto=False``
    keeps the prefix plan unconditionally (full recall, cost be
    damned). The planning agg shares the generators' own first
    stage (gram explode + df count), so at 100 TB it costs one
    extra linear pass + a vocab-sized sort — noise against the
    candidate join it sizes."""
    if not auto and not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # referenced by the planning statistics, the candidate generator
    # and both verify sides
    base = _shingle_frame(df, text_col, id_col, n, block_cols).localCheckpoint(
        eager=False
    )
    # one gram-df aggregate serves planning AND whichever generator
    # wins — vocab-sized, so the checkpoint is cheap to hold
    gram_df = _gram_df(base, block_cols).localCheckpoint(eager=False)
    if auto and choose_similarity_plan(
        base, block_cols, id_col, threshold, max_df, cost_ratio,
        gram_df=gram_df,
    )["plan"] == "capped":
        cand = _capped_candidates(base, block_cols, id_col, max_df, gram_df)
    else:
        cand = _prefix_filter_candidates(
            base, block_cols, id_col, threshold, gram_df=gram_df
        )
    return _verify_jaccard_candidates(
        base, cand, id_col, threshold, pin_result=pin_result,
        gram_df=gram_df, block_cols=block_cols,
    )


def _capped_candidates(
    base: DataFrame,
    block_cols: list[str],
    id_col: str,
    max_df: int,
    gram_df: DataFrame,
) -> DataFrame:
    """df-capped inverted-index candidate pairs over a shingle frame:
    pairs are generated only from grams with block-local document
    frequency ≤ max_df (``gram_df``, :func:`_gram_df`), bounding
    candidate work at max_df × corpus grams (linear). Shared by
    :func:`ngram_jaccard_pairs` and :func:`similarity_join`."""
    rare_grams = gram_df.filter(F.col("__df") <= max_df).select(
        *block_cols, "g"
    )
    rare = _gram_rows(base, block_cols, id_col).join(
        rare_grams, on=[*block_cols, "g"]
    )
    # NB: an explicit keyed repartition of `rare` on the join key
    # (to defeat AQE's byte-based coalescing of the CPU-dense pair
    # generation — it runs on ~5 of 32 tasks at sf0.1) was tried and
    # REVERTED: the repartition exchanges the FULL exploded gram
    # table (71 MB shuffle write at sf0.1 vs the 5 MB the planner's
    # own aggregated exchange carries) and its subtree was NOT
    # reused across the self-join sides — doc_cluster_build went
    # 22.8 s -> 66.9 s standalone (driver-style full-suite bench:
    # 14.2 -> 47.9 s). The ~1.5 s-wall coalesced stage is the
    # cheaper evil at this scale; at cluster scale the join's own
    # exchanges are byte-large enough that AQE sizes them correctly.
    return (
        rare.select(*block_cols, F.col(id_col).alias("id_a"), "g")
        .join(
            rare.select(*block_cols, F.col(id_col).alias("id_b"), "g"),
            on=[*block_cols, "g"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def md5_gram_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 5
) -> DataFrame:
    """(id, grams) distinct character-shingle sets on the
    cross-engine string basis used by the md5 audit twins; docs with
    no shingles drop out (no near-dup semantics). Public so callers
    can materialize the frame ONCE and feed it to both the
    signature build and the exact-Jaccard verification (see
    plans/doc_clusters.md5_minhash_frames)."""
    return _shingle_frame(
        df, text_col, id_col, shingle_n, grams_of=char_ngrams_of_norm,
        drop_empty=True,
    )


def md5_minhash_signatures(
    grams: DataFrame, id_col: str, num_perm: int = 16
) -> DataFrame:
    """(id, m0..m{k-1}) md5-basis MinHash signatures from a
    :func:`md5_gram_sets` frame: component i is
    ``array_min(transform(grams, g -> md5('i:'||g)))``, the
    lexicographic minimum of the hex strings."""
    return _minhash_signatures(grams, id_col, num_perm, _md5_perm)


def minhash_near_duplicates_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    threshold: float = 0.6,
    grams: DataFrame | None = None,
    sig: DataFrame | None = None,
    bits: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs on the CROSS-ENGINE md5 basis: the
    same shingle → signature → band → verify pipeline as
    :func:`minhash_near_duplicates`, with string grams,
    ``md5("i:" || gram)`` permutations and md5 band buckets. md5 is
    identical in every engine, so the whole pipeline reproduces
    bit-for-bit in plain SQL: a green value-check of this auditable
    twin certifies the stages the engine-specific fast path shares.
    Production dedup at 100 TB should run the xxhash64 variant —
    this one costs ~num_perm md5 calls per (doc, gram).

    ``grams`` / ``sig`` / ``bits`` accept pre-built, ideally
    materialized frames (:func:`md5_gram_sets`,
    :func:`md5_minhash_signatures`, ``plans.doc_clusters.md5_gram_bits``):
    without them the lazy gram pipeline re-executes once per
    reference (r6 bench: 15.7 s at sf0.1), with the memoized frames
    of ``plans/doc_clusters.md5_minhash_frames`` each runs once."""
    if grams is None:
        grams = md5_gram_sets(df, text_col, id_col, shingle_n)
    if sig is None:
        sig = md5_minhash_signatures(grams, id_col, num_perm)
    cand = _lsh_candidates(sig, id_col, num_perm, bands, F.md5)
    return _verify_jaccard_candidates(
        grams, cand, id_col, threshold, pin_result=False, bits=bits
    )


def simhash_near_duplicates_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs on a CROSS-ENGINE hash basis: each
    token's 32-bit hash is the first 8 hex chars of md5(token), and
    the votes, the ``max_hamming + 1`` chunk banding and the
    ``bit_count(xor) <= max_hamming`` verification are the shared
    stages of :func:`simhash_near_duplicates` at width 32 — so the
    whole pipeline reproduces bit-for-bit in plain SQL, and a green
    value-check of this auditable twin certifies them. ``hamming``
    is ``bigint``, as the audit oracle computes it.

    Costs one md5 per DISTINCT token (vocab-hashed once, joined
    back) and a 32× bit explode, so production dedup should run the
    64-bit xxhash64 variant; this exists for audits and parity
    gates."""
    toks = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    )
    # hash each distinct token once; md5 is deterministic, so this
    # is identical to hashing inline, at vocab cost not instance cost
    vocab = toks.select("t").distinct().select(
        "t",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sim = _simhash_table(toks.join(vocab, "t").select(id_col, "h"), id_col, 32)
    return _simhash_pairs(sim, id_col, max_hamming, 32).withColumn(
        "hamming", F.col("hamming").cast("bigint")
    )


def winnow_share_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style copy detection: pairs of documents sharing at least
    ``min_shared`` winnowing fingerprints — evidence of a common
    substring of length ≥ k + window - 1 per shared fingerprint,
    the complement of set-Jaccard dedup (which sees bags of grams,
    not contiguous matches). Returns (id_a, id_b, n_shared).

    Fingerprints with document frequency > ``max_df`` are excluded
    from pairing: winnow minima of ubiquitous substrings (boilerplate,
    stock phrases) would otherwise drive Σ df² candidate work
    quadratic (measured Σ df² ≈ 5.9e8 at sf0.1 uncapped on this
    corpus vs bounded ≤ max_df × total fingerprints capped). The cut
    is DETERMINISTIC (a pure df filter), so results remain exactly
    reproducible in SQL — unlike a sampled or probabilistic cut.

    Hash basis is md5 (cross-engine); the sketch is ~|doc|/window
    fingerprints, so this is the cheaper pairing substrate at scale
    compared to raw gram inverted indexes."""
    normed = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("nrm")
    )
    count = F.greatest(F.length("nrm") - (k - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    hashed = normed.select(
        F.col(id_col),
        F.transform(
            idx, lambda i: F.md5(F.col("nrm").substr(i, F.lit(k)))
        ).alias("h"),
    )
    from big_data_processing_spark.functions.text import winnow_of_hashes

    # materialize the sketch BEFORE exploding: generator filter
    # inference would otherwise inline the winnow HOF chain through
    # the select boundaries and re-evaluate it per exploded row
    # (the >390s-vs-8s trap documented at doc_winnow_sketch); the
    # lineage cut also lets the df-filter join below reference the
    # exploded frame twice without re-running the sketch
    sk = hashed.select(
        F.col(id_col), winnow_of_hashes(F.col("h"), window).alias("fps")
    ).localCheckpoint(eager=False)
    ex = sk.select(F.col(id_col), F.explode("fps").alias("fp"))
    rare = ex.join(
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp"),
        on="fp",
    )
    # fingerprints are distinct per doc (winnow dedups), so count(*)
    # per pair IS the shared-fingerprint count
    return (
        rare.select(F.col(id_col).alias("id_a"), "fp")
        .join(rare.select(F.col(id_col).alias("id_b"), "fp"), on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
