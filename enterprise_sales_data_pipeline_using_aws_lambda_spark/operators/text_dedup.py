"""Fuzzy document deduplication: MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these operators at 100 TB):
- **Never all-pairs.** Candidate generation is LSH banding — a group-by
  on (band, band_hash) whose shuffle carries (doc_id, 16 bytes) per band,
  not documents.  Exact similarity is then computed only on candidates.
- **No Python in the hot path.** Shingling, hashing, signatures, and
  banding are Spark higher-order functions (``transform`` /
  ``aggregate`` / ``xxhash64``) evaluated in the JVM; a 1000-executor
  cluster runs this with zero Python workers.
- Self-joins on band buckets use salted-safe equi keys; huge buckets
  (identical boilerplate docs) are the skew risk — AQE skew-join splits
  them, and ``max_bucket`` guards degenerate buckets.

MinHash/LSH background: Broder '97 resemblance sketches; banding analysis
as in Mining of Massive Datasets ch.3 (public).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .materialize import ensure_min_parallelism, materialize

from ..functions.text import char_ngrams, word_tokens


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """(id, shingles) — distinct character n-grams per document.

    Shingling is the CPU-dominant map stage of every dedup pipeline
    built on it; an under-split input (single row group) would run it
    one-core, so rebalance first (no-op when the scan already splits
    ≥ cores — see ensure_min_parallelism)."""
    df = ensure_min_parallelism(df)
    return df.select(
        F.col(id_col),
        F.array_distinct(char_ngrams(F.col(text_col), n)).alias("shingles"),
    )


_MERSENNE31 = (1 << 31) - 1

#: Upper bound on |batch| × bands rows the store-backed incremental
#: path will force-broadcast (see _sign_store_batch).  4M rows of
#: (band int, bucket long, id long) ≈ 64 MB serialized — the same
#: order as spark.sql.autoBroadcastJoinThreshold, i.e. the point past
#: which a forced broadcast stops being obviously safe.
MAX_STORE_BATCH_BANDED = 4_000_000

#: Upper bound on pair-named corpus ids the store-backed verify stage
#: will collect and push into the corpus text scan as a literal IN
#: filter (see _pairs_against_stored).  10k longs is a trivial
#: driver collect; past it the verify falls back to the semi-join,
#: which never collects but cannot prune parquet row groups.
# One lock with idfilter.MAX_ID_PUSHDOWN (structural alias, not a
# second literal): the est/verify pushdowns and the exactly-once id
# probes share the same driver-collect ceiling by design.
from .idfilter import MAX_ID_PUSHDOWN as MAX_VERIFY_ID_PUSHDOWN
from .idfilter import semi_join_ids


def _hash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod (2^31 - 1)`` — fixed seed so
    signatures are reproducible across sessions and clusters."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    method: str = "oph",
) -> DataFrame:
    """(id, signature[num_hashes]) MinHash sketch.

    ``method="oph"`` (default) — **one-permutation hashing** (Li,
    Owen, Zhang '12): a single ``xxhash64`` per shingle is split into a
    bin (low 6 bits) and a value (remaining bits); the signature is the
    per-bin minimum, densified by rotation (an empty bin borrows the
    next non-empty bin's value — Shrivastava's densification, which
    keeps the estimator unbiased).  Per-shingle work is ONE hash + one
    mod instead of ``num_hashes`` universal-family transforms — ~50×
    less agg CPU, same shuffle shape (docs × num_hashes longs after the
    map-side partial min).

    ``method="universal"`` — classic k-hash-functions variant
    (``(a·x+b) mod 2^31-1``, fixed seeded family): more compute, but
    each signature slot is an independent permutation; kept for
    estimator-variance comparisons and as the reference semantics."""
    exploded = shingled.select(
        F.col(id_col), F.explode("shingles").alias("_sh")
    )
    if method == "universal":
        fam = _hash_family(num_hashes)
        hashed = exploded.withColumn(
            "_h", F.pmod(F.xxhash64("_sh"), F.lit(_MERSENNE31))
        )
        # Plain % (not pmod): _h ∈ [0, M) and a, b ∈ [0, M) keep a·x+b
        # non-negative, where % == pmod at half the mod instructions.
        aggs = [
            F.min((F.col("_h") * a + b) % _MERSENNE31).alias(f"_m{i}")
            for i, (a, b) in enumerate(fam)
        ]
        sigs = hashed.groupBy(id_col).agg(*aggs)
        return sigs.select(
            F.col(id_col),
            F.array(*[f"_m{i}" for i in range(num_hashes)]).alias(
                "signature"
            ),
        )
    if method != "oph":
        raise ValueError(f"unknown minhash method: {method}")
    # single shuffle, same shape as the universal variant (docs ×
    # num_hashes partial-agg values), but each row costs one hash + one
    # mod + num_hashes COMPARES instead of num_hashes mul/add/mod
    shift = num_hashes.bit_length() - 1
    if 1 << shift != num_hashes:
        raise ValueError("oph requires num_hashes to be a power of two")
    # bin = low log2(k) bits; value = the REMAINING bits, so bin bits
    # never leak into the minimized value
    binned = exploded.select(
        F.col(id_col),
        F.pmod(F.xxhash64("_sh"), F.lit(num_hashes)).alias("_bin"),
        F.pmod(
            F.shiftrightunsigned(F.xxhash64("_sh"), shift),
            F.lit(_MERSENNE31),
        ).alias("_v"),
    )
    # one SQL expression for the num_hashes per-bin minima: built column
    # by column they cost ~400 DataFrame-API calls, each a py4j round
    # trip with call-site capture — ~0.6 s of driver time per signing
    mins = ", ".join(
        f"min(CASE WHEN _bin = {i} THEN _v END)" for i in range(num_hashes)
    )
    sigs = binned.groupBy(id_col).agg(F.expr(f"array({mins})").alias("_raw"))
    # rotation densification: empty bin takes the nearest following
    # non-empty bin's min (wrap-around); global min is the last-resort
    # fallback for pathologically short documents
    rot = 8

    def dense(b):
        probes = [
            F.element_at(
                F.col("_raw"), ((b + k) % num_hashes + 1).cast("int")
            )
            for k in range(rot)
        ]
        return F.coalesce(*probes, F.array_min(F.col("_raw")))

    return sigs.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)), dense
        ).alias("signature"),
    )


def lsh_banded(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket): each signature cut into ``bands`` row-groups,
    a band's bucket key one xxhash64 over its slice — the exploded
    frame :func:`lsh_candidate_pairs` self-joins, exposed so scale
    instrumentation (``tools/scale_smoke.py``) measures the SAME
    banding the operator executes rather than a reimplementation.

    Band boundaries are the gapless integer split ``[floor(b·k/bands),
    floor((b+1)·k/bands))``: when ``bands`` divides the signature size
    this is exactly the fixed-width slicing (bucket hashes unchanged),
    and when it does NOT, every slot still lands in exactly one band —
    a truncated fixed width would silently leave ``k mod bands`` slots
    out of all bands and gaps between bands, quietly lowering recall
    below what the banding math promises.

    ``carry`` names extra columns to thread through the explode (e.g.
    the batch tag of :func:`minhash_near_duplicates_against`) — free,
    versus joining them back onto the banded frame, which would
    shuffle |docs × bands| rows a second time."""
    sz = F.size(F.col("signature"))
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("signature"),
                                    (F.floor(b * sz / bands) + 1).cast(
                                        "int"
                                    ),
                                    (
                                        F.floor((b + 1) * sz / bands)
                                        - F.floor(b * sz / bands)
                                    ).cast("int"),
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, *carry, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 1000,
    prune_singletons: bool = True,
    new_col: str | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Each signature is cut into ``bands`` row-groups; a band's bucket key
    is one xxhash64 over its slice.  Docs are exploded to one row per
    band (bands × docs rows of ~24 bytes — the only shuffle), then
    self-joined per bucket.  ``max_bucket`` drops degenerate buckets
    (e.g. empty-text clusters) that would create O(b²) pairs.

    ``prune_singletons=False`` disables the singleton-bucket prune
    (identical output — a singleton can never pair — but the self-join
    consumes all |docs × bands| rows instead of only colliding ones);
    exists so ``tools/scale_smoke.py`` can measure the prune's
    join-input reduction, not for production use.

    ``new_col`` names a boolean column on ``signatures`` marking NEW
    (batch) docs — the incremental mode of
    :func:`minhash_near_duplicates_against`.  Output is then restricted
    to batch-involving pairs with ``id_a`` always a batch doc
    (``id_a < id_b`` when both are), and two extra prunes apply BEFORE
    the join: buckets with no batch member drop with the singletons,
    and only batch rows probe the a-side — candidate cost scales with
    the batch's collisions, never corpus²."""
    carry = (new_col,) if new_col else ()
    banded = lsh_banded(signatures, id_col, bands, carry=carry)

    aggs = [F.count("*").alias("_n")]
    if new_col:
        aggs.append(F.max(new_col).alias("_any_new"))
    counts = banded.groupBy("band", "bucket").agg(*aggs)
    # _n >= 2: a singleton bucket cannot form a pair, and singletons are
    # the overwhelming majority of buckets — filtering them here shrinks
    # the join-back and the self-join input from |docs × bands| rows to
    # only the colliding rows (measured in tools/scale_smoke.py: 100×
    # fewer join-input rows and ~2× wall on a 1M-doc corpus with 1%
    # planted dups — the ratio grows with corpus purity).
    keep = (F.col("_n") <= max_bucket)
    if prune_singletons:
        keep = keep & (F.col("_n") >= 2)
    if new_col:
        keep = keep & F.col("_any_new")
    pruned = banded.join(
        counts.filter(keep).select("band", "bucket"),
        ["band", "bucket"],
    )
    a_side = pruned.filter(F.col(new_col)) if new_col else pruned
    a = a_side.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a")
    )
    if new_col:
        b = pruned.select(
            F.col("band"),
            F.col("bucket"),
            F.col(id_col).alias("id_b"),
            F.col(new_col).alias("_new_b"),
        )
        pair_keep = (F.col("id_a") != F.col("id_b")) & (
            ~F.col("_new_b") | (F.col("id_a") < F.col("id_b"))
        )
    else:
        b = pruned.select(
            F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b")
        )
        pair_keep = F.col("id_a") < F.col("id_b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(pair_keep)
        .select("id_a", "id_b")
        .distinct()
    )


def estimate_jaccard_on_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sketch-estimated Jaccard for (id_a, id_b) pairs: the fraction of
    agreeing MinHash components (unbiased estimator, σ = √(j(1-j)/k)).

    64 long comparisons per pair — ~50× cheaper than exact set
    intersection — used to discard the long tail of LSH candidates
    before the exact verify touches shingle arrays.  Other columns of
    ``pairs`` ride along, after ``id_a`` and ``id_b``."""
    sa = signatures.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
    )
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return joined.select(
        *pairs.columns,
        (matches / F.size(F.col("sig_a"))).alias("est_jaccard"),
    )


def jaccard_on_pairs(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs — the
    verify stage after LSH candidate generation.

    ``threshold`` filters on the UNROUNDED ratio (the round(…, 6) in
    the output column is presentation only): filtering post-round would
    admit pairs in [t−5e-7, t) that round up past the cut, silently
    widening the contract by a rounding ulp.  Other columns of
    ``pairs`` ride along, before ``jaccard``."""
    sa = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    res = joined.select(
        *pairs.columns,
        (inter / F.greatest(union, F.lit(1))).alias("_raw"),
    )
    if threshold is not None:
        res = res.filter(F.col("_raw") >= threshold)
    return res.select(
        *pairs.columns, F.round("_raw", 6).alias("jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    estimate_margin: float = 0.15,
    verify: bool = True,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection:
    shingle → signature → banded candidates → sketch-estimate filter →
    exact-Jaccard verify.

    ``verify=False`` stops after the sketch-estimate filter and returns
    (id_a, id_b, est_jaccard) — the pure engine path, used by bench.py
    to report engine cost separately from the exact-verify stage the
    correctness gate folds in.

    The estimate stage drops candidates whose sketch-estimated Jaccard
    is below ``threshold - estimate_margin`` (margin ≈ 2.5σ of the
    64-hash estimator), so the expensive shingle-set intersection runs
    only on plausible pairs — on corpora where banding is permissive
    (small vocabularies) this cuts the verify stage by ~10×.  A
    borderline pair (true j == threshold) is missed with p ≈ Φ(-2.5σ)
    < 1%; report-exactness is unaffected — surviving pairs carry exact
    Jaccard."""
    # Only SIGNATURES are pinned (docs × num_hashes longs — cacheable
    # at any corpus size; consumed by banding and the estimate stage).
    # Shingle arrays are corpus-sized and deliberately NOT
    # checkpointed: pinning them starved the signature aggregation's
    # execution memory (AGGREGATE_OUT_OF_MEMORY at 1M text docs on the
    # 8g test heap — found in round 6's full-text scale lane) to cache
    # data the verify stage barely needs.  Instead the exact verify
    # re-shingles ONLY docs named in surviving candidate pairs — a
    # candidate-bounded semi-join against the input, not a second
    # corpus-wide explode.  Eager localCheckpoint instead of
    # .persist(): the ContextCleaner reclaims the backing cache once
    # the frames go unreachable, whereas CacheManager entries from
    # persist leak across invocations (each bench/job re-run stacked
    # another cached copy).
    sigs = materialize(
        minhash_signatures(
            shingle_sets(df, text_col, id_col, n), id_col, num_hashes
        )
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands)
    est = estimate_jaccard_on_pairs(cands, sigs, id_col)
    plausible = est.filter(
        F.col("est_jaccard") >= threshold - estimate_margin
    )
    if not verify:
        return plausible
    pairs = materialize(plausible.select("id_a", "id_b"))
    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Guarded literal-IN pushdown instead of a semi-join (round-13
    # optimization; same rationale and bound as the store-backed
    # verify in _pairs_against_stored): pair-named ids are usually
    # tiny, and a collected isin() reaches the parquet scan as a
    # pushed filter while a semi-join pays a full shuffle + sort of
    # the corpus.  pairs is checkpointed, so the bounded collect is
    # deterministic; past the bound the plain semi-join takes over
    # (AQE broadcasts when the pair set is actually small).
    needed = semi_join_ids(df, pair_ids, id_col, MAX_VERIFY_ID_PUSHDOWN)
    return jaccard_on_pairs(
        pairs, shingle_sets(needed, text_col, id_col, n), id_col,
        threshold=threshold,
    )


def minhash_near_duplicates_against(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    estimate_margin: float = 0.15,
    max_bucket: int = 1000,
    corpus_signatures: DataFrame | None = None,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental LSH near-dup: a NEW batch against an accumulated
    corpus — the daily-ingest shape of production curation, where
    re-running the all-pairs self-join over corpus ∪ batch per batch
    would cost corpus² forever.  Returns (id_a, id_b, jaccard) where
    ``id_a`` is always a BATCH doc and ``id_b`` its near-duplicate in
    either frame (``id_a < id_b`` when both are batch docs, so each
    pair appears once).  Ids must be unique across both frames (the
    same keyed contract as the self-join).  Cross-batch EXACT dedup is
    ``bloom.incremental_dedup``; this is its fuzzy complement.

    Shingles, signatures, banding, the sketch-estimate screen, and the
    exact verify are byte-identical to
    :func:`minhash_near_duplicates` over the union, so recall on
    batch-involving pairs equals the self-join's.  The incremental win
    is the ``new_col`` mode of :func:`lsh_candidate_pairs`: buckets
    with NO batch member — the overwhelming majority when
    |batch| << |corpus| — drop before the join-back, and the candidate
    join's a-side carries only batch rows.  Candidate cost therefore
    scales with the batch's collisions, never corpus²; corpus-only
    near-dup pairs are never generated, estimated, or verified.  The
    batch tag rides the banding explode via ``lsh_banded(carry=...)``
    — threading it post-banding would re-shuffle |docs × bands| rows.

    **Persisted-store fast path**: ``corpus_signatures`` (a
    ``(id, signature)`` frame — e.g. the ``signatures`` table of
    :func:`write_lsh_signature_store`, or :func:`minhash_signatures`
    output) skips re-shingling and re-signing the corpus — the
    corpus-linear term the plain path pays every batch.
    ``corpus_buckets`` (the store's pre-banded ``(band, bucket, id)``
    table) additionally skips re-banding corpus signatures: the batch's
    banded rows broadcast into the corpus bucket scan, so per-batch
    cost is the batch's own shingle/sign/band work + one columnar pass
    over the bucket table + work proportional to collisions.  The
    corpus TEXT frame is still required, but only docs named in
    surviving candidate pairs are re-shingled for the exact verify (a
    semi-join, not a corpus-wide explode).  Output is row-identical to
    the plain path — signatures and banding are deterministic — so the
    oracle contract is unchanged; callers must build the store with
    the SAME (n, num_hashes, bands) and keep ids unique across frames
    (:func:`read_lsh_signature_store` validates the former from the
    store's meta table).

    Honest scope of the PLAIN path (measured, tools/scale_smoke.py):
    the shingle/sign/band scan over the union stays LINEAR in the
    corpus per batch — on a clean 1M-doc corpus that scan dominates
    and wall is flat vs the naive self-join; the win there is the pair
    stages (16× fewer pairs reach estimate/verify, and arbitrarily
    more on dirty corpora, where corpus-internal re-finds are the
    quadratic risk).  The store path removes that linear term:
    measured at 1M+10k in tools/scale_smoke.py, identical pairs."""
    if corpus_signatures is not None:
        batch_sigs = _sign_store_batch(
            batch, text_col=text_col, id_col=id_col, n=n,
            num_hashes=num_hashes, bands=bands,
        )
        return _pairs_against_stored(
            corpus, batch, batch_sigs, corpus_signatures, corpus_buckets,
            text_col=text_col, id_col=id_col, n=n, bands=bands,
            threshold=threshold, estimate_margin=estimate_margin,
            max_bucket=max_bucket,
        ).drop("_cross")
    if corpus_buckets is not None:
        raise ValueError(
            "corpus_buckets requires corpus_signatures (the estimate "
            "stage needs corpus signatures; buckets alone cannot "
            "reconstruct them)"
        )
    both = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
    ).unionByName(
        batch.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_new"))
    )
    tags = both.select(F.col(id_col), "_new")
    # shingles NOT checkpointed; verify re-shingles pair-named docs
    # only — same memory rationale as minhash_near_duplicates
    sigs = materialize(
        minhash_signatures(
            shingle_sets(both, text_col, id_col, n), id_col, num_hashes
        )
    )
    # docs-sized join (sigs is already hash-partitioned on id post-agg)
    cand = lsh_candidate_pairs(
        sigs.join(tags, id_col),
        id_col,
        bands,
        max_bucket=max_bucket,
        new_col="_new",
    )
    est = estimate_jaccard_on_pairs(cand, sigs, id_col)
    pairs = materialize(
        est.filter(
            F.col("est_jaccard") >= threshold - estimate_margin
        ).select("id_a", "id_b")
    )
    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # guarded literal-IN pushdown, semi-join fallback past the bound —
    # same round-13 rework as minhash_near_duplicates' verify
    needed = semi_join_ids(both, pair_ids, id_col, MAX_VERIFY_ID_PUSHDOWN)
    return jaccard_on_pairs(
        pairs, shingle_sets(needed, text_col, id_col, n), id_col,
        threshold=threshold,
    )


def _observed_pin(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` pinned, with ``metrics`` observed on the pinning pass —
    counts and checks cost no job of their own.  The observation sits
    above ``df``'s last exchange: below one, a zero-row input fails
    Observation.get."""
    obs = Observation()
    pinned = materialize(
        df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
    )
    return pinned, obs.get


def _sign_store_batch(
    batch: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """The batch's pinned ``(id, signature)`` rows — the one pinned
    frame of the store path's batch side.  Banded rows and verify
    shingles derive from it (or from ``batch``) lazily.

    The store path FORCES the batch's banded rows into broadcasts;
    like lsh_topk's MAX_QUERY_VECTORS guard, the "batch is small"
    contract is enforced, not assumed — a fact-sized batch would
    otherwise OOM the driver instead of degrading.  The row count is
    an observed metric of the pin itself, so the guard
    (rows × bands) costs no job."""
    sigs, seen = _observed_pin(
        minhash_signatures(
            shingle_sets(batch, text_col, id_col, n), id_col, num_hashes
        ),
        rows=F.count(F.lit(1)),
    )
    if seen["rows"] * bands > MAX_STORE_BATCH_BANDED:
        raise ValueError(
            f"store-backed incremental dedup batch exceeds "
            f"{MAX_STORE_BATCH_BANDED} banded rows "
            f"(|batch| x bands); its banded rows must broadcast. "
            f"Split the batch, or run the plain path "
            f"(corpus_signatures=None), which shuffle-joins instead"
        )
    return sigs


def _pairs_against_stored(
    corpus: DataFrame,
    batch: DataFrame,
    batch_sigs: DataFrame,
    corpus_signatures: DataFrame,
    corpus_buckets: DataFrame | None,
    *,
    text_col: str,
    id_col: str,
    n: int,
    bands: int,
    threshold: float,
    estimate_margin: float,
    max_bucket: int,
) -> DataFrame:
    """Store-backed incremental LSH (the ``corpus_signatures`` branch of
    :func:`minhash_near_duplicates_against`) — the plain path's rows,
    with the corpus-linear shingle/sign(/band) stages replaced by store
    reads.  ``batch_sigs`` is :func:`_sign_store_batch` of ``batch``.
    Returns ``(id_a, id_b, _cross, jaccard)``: ``_cross`` marks pairs
    whose ``id_b`` is a corpus doc.

    Candidate generation mirrors :func:`lsh_candidate_pairs`'s
    ``new_col`` mode exactly: a bucket qualifies iff its UNION size
    (corpus members + batch members) is ≤ ``max_bucket`` and it holds
    ≥ 1 batch member.  Only buckets the batch touches are inspected:
    the batch's banded rows (a |batch|×bands frame) are BROADCAST into
    the corpus bucket scan, so the bucket table is never shuffled.
    Pair orientation is the incremental contract: id_a always a batch
    doc, id_a < id_b for batch-batch pairs."""
    if corpus_buckets is None:
        corpus_buckets = lsh_banded(corpus_signatures, id_col, bands)
    banded = lsh_banded(batch_sigs, id_col, bands)
    # corpus rows in batch-touched buckets only: at 100 TB one
    # columnar scan, zero shuffle, output sized by collisions.  The
    # anti-join then removes corpus rows whose id IS a batch id: ids
    # are unique across frames by contract, so such rows are always
    # replay artifacts — orphan bucket rows from an append that crashed
    # between its buckets and signatures writes (see
    # _append_store_tables), whose ids re-enter via the re-driven
    # batch.  Without it a batch doc would pair with its own orphan row
    # and batch-batch pairs could surface in corpus orientation,
    # inverting the drop rule.
    hits = corpus_buckets.join(
        F.broadcast(banded.select("band", "bucket")),
        ["band", "bucket"],
        "left_semi",
    ).join(F.broadcast(batch_sigs.select(id_col)), id_col, "left_anti")
    # ONE grouping per (band, bucket) over batch rows ∪ corpus hits:
    # batch ids as a list (unique by the entrance contract), corpus ids
    # as a SET — a crash-healed append leaves benign duplicate bucket
    # rows, and counting rows would inflate the union-size prune and
    # silently drop candidates.  Same prune as the plain path: union
    # bucket size <= max_bucket (a bucket with no corpus member and one
    # batch member pairs with nothing).
    members = banded.select(
        "band", "bucket", F.col(id_col).alias("_b"),
        F.lit(None).cast(hits.schema[id_col].dataType).alias("_c"),
    ).unionByName(
        hits.select(
            "band", "bucket",
            F.lit(None).cast(banded.schema[id_col].dataType).alias("_b"),
            F.col(id_col).alias("_c"),
        )
    )
    buckets = (
        members.groupBy("band", "bucket")
        .agg(F.collect_list("_b").alias("_bs"), F.collect_set("_c").alias("_cs"))
        .filter(F.size("_bs") + F.size("_cs") <= max_bucket)
    )

    def tagged(ids: Column, cross: bool) -> Column:
        return F.transform(
            ids, lambda i: F.struct(i.alias("id_b"), F.lit(cross).alias("_cross"))
        )

    # per batch member: every corpus member (no batch id among them,
    # see the anti-join) and every LARGER batch member
    a = F.col("id_a")
    cross = F.count(F.when(F.col("_cross"), 1))
    cand, seen = _observed_pin(
        buckets.select(F.explode("_bs").alias("id_a"), "_bs", "_cs")
        .select(
            "id_a",
            F.explode(
                F.concat(
                    tagged(F.filter("_cs", lambda c: c != a), True),
                    tagged(F.filter("_bs", lambda b: b > a), False),
                )
            ).alias("_p"),
        )
        .select("id_a", "_p.id_b", "_p._cross")
        .distinct(),
        cross=cross,
    )
    # The estimate stage's signature lookups are candidate-bounded:
    # id_a is ALWAYS a batch doc (batch_sigs covers it), and only the
    # cross pairs' id_b need CORPUS signatures — so the corpus
    # SIGNATURES table gets the same guarded literal-In pushdown as the
    # verify stage's text read instead of a full columnar scan per
    # batch (~520 B/doc, corpus-linear).  On an id-clustered signatures
    # table (sorted at build/compaction; appends are per-batch
    # clustered) row-group stats prune the scan; past the guard the
    # full-table join (AQE broadcast of cand) takes over unchanged; an
    # all-batch candidate set skips the corpus signatures read.
    from .idfilter import collect_ids_bounded, in_ids

    cand_b = collect_ids_bounded(
        cand.filter("_cross"), "id_b", MAX_VERIFY_ID_PUSHDOWN,
        rows=seen["cross"],
    )
    if cand_b is None:  # over the bound: full-table join fallback
        corpus_sigs = corpus_signatures.select(
            F.col(id_col), F.col("signature")
        )
    else:  # exact corpus-side id set ([] -> empty relation, no read)
        corpus_sigs = corpus_signatures.filter(
            in_ids(id_col, cand_b)
        ).select(id_col, "signature")
    sigs_all = batch_sigs.unionByName(corpus_sigs)
    est = estimate_jaccard_on_pairs(cand, sigs_all, id_col)
    plausible, seen = _observed_pin(
        est.filter(
            F.col("est_jaccard") >= threshold - estimate_margin
        ).drop("est_jaccard"),
        cross=cross,
    )
    # exact verify needs shingle SETS — re-shingle ONLY the corpus docs
    # named in surviving cross pairs (a candidate-bounded id set), never
    # the whole corpus; the batch side shingles from ``batch``.
    # Literal-IN pushdown instead of a semi-join when the id set is
    # small (the normal dirty batch): a semi-join never reaches the
    # parquet scan as a pushed filter, so any surviving pair would cost
    # one full-lake text-column read.  A collected In list DOES push
    # (PushedFilters: In/range), and on an id-clustered lake
    # (append_log_idempotent(sort_col=...) / write_sorted_lake)
    # row-group min/max stats prune the scan to the few row groups
    # holding those docs.  Past the bound the semi-join path (AQE
    # broadcast) takes over unchanged.  ``plausible`` is checkpointed,
    # so the probe is a cheap bounded job.
    pair_ids = plausible.filter("_cross").select(F.col("id_b").alias(id_col))
    ids = collect_ids_bounded(
        pair_ids, id_col, MAX_VERIFY_ID_PUSHDOWN, rows=seen["cross"]
    )
    if ids is None:
        needed = corpus.join(pair_ids, id_col, "left_semi")
    else:
        # exact corpus-side id set ([] -> empty relation: a clean or
        # batch-internal-only batch never touches corpus text)
        needed = corpus.filter(in_ids(id_col, ids))
    shingled = shingle_sets(batch, text_col, id_col, n).unionByName(
        shingle_sets(needed, text_col, id_col, n)
    )
    return jaccard_on_pairs(
        plausible, shingled, id_col, threshold=threshold
    )


# ---------------------------------------------------------------------------
# LSH signature store (persisted incremental-dedup state)
# ---------------------------------------------------------------------------

#: Store layout: ``{path}/signatures`` (id, signature array<bigint>),
#: ``{path}/buckets`` (band int, bucket long, id), ``{path}/meta``
#: (single-row parquet pinning the sketch parameters, with this fixed
#: schema — read without a schema-inference job).
_META_SCHEMA = "id_col string, n int, num_hashes int, bands int"


def write_lsh_signature_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist MinHash signatures AND banded buckets for ``docs`` —
    the accumulated state that makes per-batch incremental dedup
    (:func:`minhash_near_duplicates_against`) stop re-signing the full
    corpus.  ``mode="append"`` is the daily-ingest step: after a batch
    is deduped, append ITS signatures so the next batch sees it as
    corpus (parameters are validated against the store's meta table —
    mixing sketch parameters would silently break banding recall).

    Everything is written through Spark (parquet via the session's
    Hadoop FS), so the store lives wherever the lake lives — no
    driver-local filesystem assumptions.  At 100 TB scale, signatures
    are docs × num_hashes longs and buckets docs × bands rows of ~24
    bytes — both a small fraction of corpus text, columnar, and
    partition-parallel on read.

    Crash ordering (each individual parquet write commits atomically
    via the job-commit protocol; the windows are BETWEEN writes):

    - ``overwrite`` deletes ``meta`` FIRST and rewrites it LAST, so a
      rebuild that dies mid-way leaves a store with no meta —
      :func:`read_lsh_signature_store` fails loudly instead of passing
      parameter validation against half-rebuilt tables.  Recovery is
      re-running the overwrite.
    - ``append`` writes ``buckets`` first and ``signatures`` last (see
      :func:`_append_store_tables`).  Bare ``mode="append"`` on this
      function is NOT idempotent — replay protection is
      :func:`append_batch_signatures`' job."""
    import os

    spark = docs.sparkSession
    meta = {
        "id_col": id_col,
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
    }
    if mode == "append":
        stored = _read_store_meta(spark, path)
        if stored != meta:
            raise ValueError(
                f"LSH store parameter mismatch: store has {stored}, "
                f"append requested {meta}; signatures built with "
                "different sketch parameters cannot share a store"
            )
    elif mode != "overwrite":
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    sigs = materialize(
        minhash_signatures(
            shingle_sets(docs, text_col, id_col, n), id_col, num_hashes
        )
    )
    if mode == "append":
        _append_store_tables(sigs, path, id_col, bands)
        return
    from ..sources.writers import delete_path

    delete_path(spark, os.path.join(path, "meta"))
    _id_sorted(sigs, id_col).write.mode(mode).parquet(
        os.path.join(path, "signatures")
    )
    lsh_banded(sigs, id_col, bands).write.mode(mode).parquet(
        os.path.join(path, "buckets")
    )
    spark.createDataFrame(
        [(meta["id_col"], meta["n"], meta["num_hashes"], meta["bands"])],
        _META_SCHEMA,
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def _id_sorted(sigs: DataFrame, id_col: str) -> DataFrame:
    """Signatures as they land: id-sorted within each written file set,
    so the est-stage's pushed candidate-id filter prunes row groups
    (appends are per-batch file sets, so each stays clustered over its
    batch's id range; compaction re-sorts globally).  One range
    shuffle of docs × ~520 B — trivial per batch, one-time at build."""
    return sigs.repartitionByRange(F.col(id_col)).sortWithinPartitions(
        id_col
    )


def _append_store_tables(
    sigs: DataFrame, path: str, id_col: str, bands: int
) -> None:
    """Append ``sigs`` (``(id, signature)``, pinned: it feeds both
    writes) to the store's ``buckets`` and ``signatures`` tables —
    buckets FIRST, signatures LAST.  That is the direction
    :func:`append_batch_signatures`' idempotence anti-join (keyed on
    signatures, the LAST-written table) can self-heal: a crash between
    the two leaves orphan bucket rows whose ids are absent from
    signatures, the re-driven append re-appends BOTH tables (duplicate
    bucket rows are benign — candidate generation counts distinct ids
    and de-dups pairs, and store compaction removes them), and no doc
    is ever left invisible to candidate generation.  The reverse order
    would strand signatures-without-buckets: the re-driven append
    would see the ids present and append nothing, permanently hiding
    those docs from every future batch's bucket probe."""
    import os

    lsh_banded(sigs, id_col, bands).write.mode("append").parquet(
        os.path.join(path, "buckets")
    )
    _id_sorted(sigs, id_col).write.mode("append").parquet(
        os.path.join(path, "signatures")
    )


def _read_store_meta(spark, path: str) -> dict:
    """The store's meta row as a dict, with recovery guidance when the
    meta table is absent or holds no row: meta is deleted first and
    rewritten last by the overwrite path, so its absence means either
    no store was ever built here or a rebuild died mid-way — and a
    rebuild that died inside the meta write itself leaves a directory
    holding only ``_temporary/``, which the declared-schema read
    returns as zero rows.  Meta is the ONE table maintenance never
    touches, so this read is safe even while the data tables sit
    mid-swap (compaction crash debris)."""
    import os

    from pyspark.errors import AnalysisException

    from ..errors import table_error_condition

    recovery = (
        f"no LSH signature store at {path}: the meta table is missing "
        f"or empty — either nothing was built here, or an overwrite "
        f"rebuild crashed mid-way (meta is written last).  Recover by "
        f"re-running write_lsh_signature_store(mode='overwrite')"
    )
    try:
        row = (
            spark.read.schema(_META_SCHEMA)
            .parquet(os.path.join(path, "meta"))
            .first()
        )
    except AnalysisException as e:
        if table_error_condition(e) == "PATH_NOT_FOUND":
            raise ValueError(recovery) from e
        raise
    if row is None:
        raise ValueError(recovery)
    return row.asDict()


def read_lsh_signature_store(spark, path: str) -> dict:
    """Load a persisted LSH store: ``{"signatures": DataFrame,
    "buckets": DataFrame, "meta": dict}`` — the ``corpus_signatures``
    / ``corpus_buckets`` inputs of
    :func:`minhash_near_duplicates_against`.  Callers should check
    ``meta`` matches the n/num_hashes/bands they pass the operator.

    A store with no readable meta raises with recovery guidance (see
    :func:`_read_store_meta`).  The data tables keep schema inference:
    a declared-schema read of a directory a crashed overwrite left
    holding only ``_temporary/`` would return zero rows instead of
    failing."""
    import os

    m = _read_store_meta(spark, path)
    return {
        "signatures": spark.read.parquet(
            os.path.join(path, "signatures")
        ),
        "buckets": spark.read.parquet(os.path.join(path, "buckets")),
        "meta": m,
    }


#: Pinned ``(id, signature)`` rows of each ``clean`` frame
#: :func:`ingest_dedup_batch` returned, with the store meta they were
#: built with: :func:`append_batch_signatures` appends these instead of
#: re-shingling and re-signing the same docs.  Weak keys: an entry
#: goes with its frame (DataFrame hashes by identity).
_SIGNED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _check_store_key(meta: dict, store_path: str, id_col: str) -> None:
    if meta["id_col"] != id_col:
        raise ValueError(
            f"LSH store at {store_path} is keyed on "
            f"{meta['id_col']!r}, not {id_col!r}"
        )


def ingest_dedup_batch(
    corpus: DataFrame,
    batch: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    estimate_margin: float = 0.15,
    max_bucket: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """One daily-ingest step, composed from the store-backed pieces:
    dedup ``batch`` against the persisted LSH store at ``store_path``
    (and against itself) and return ``(clean, pairs)`` — the batch docs
    to admit, and the near-dup evidence (id_a, id_b, jaccard).

    Drop rule (the greedy pair rule, not connected-component
    canonicalization): a batch doc is dropped iff it near-duplicates a
    corpus doc (pairs where ``id_b`` is corpus-side drop ``id_a``) or a
    smaller-id batch doc (batch-batch pairs drop ``id_b``).  Compose
    with :func:`dedup_connected_components` when cluster-level
    canonicals are needed.

    Exactly-once at the id level: batch ids ALREADY in the store are
    filtered out before anything else — they were admitted by a prior
    (possibly crashed) run of the same delivery, and re-dedup'ing them
    against their own stored signatures would self-match every one of
    them.  That makes the three-step ingest transaction convergent
    under re-drive from ANY crash point, provided the caller keeps this
    order::

        clean, pairs = ingest_dedup_batch(lake_docs, batch, store)
        append_log_idempotent(                          # docs first —
            spark, clean, lake, batch_id,               # id-clustered,
            sort_col=id_col, sort_files=4,              # so the verify
        )                                               # prunes (below)
        append_batch_signatures(                        # state last —
            clean, store,                               # per-batch
            lease_token=f"append:{batch_id}",           # lease token
        )

    Crash before the doc write: nothing persisted, re-run redoes all.
    Crash between doc write and the state append: re-run re-derives
    the SAME clean set (signatures are deterministic and the store is
    unchanged — candidates come from store buckets, so the half-written
    lake does not perturb the answer), the doc write no-ops on its
    batch-id key, and the append completes.  Crash INSIDE the state
    append (between its buckets and signatures writes — the append
    writes buckets first): the admitted ids are still absent from
    signatures, so the re-run's pre-filter keeps them, the orphan
    bucket rows they left are excluded from candidate generation (the
    batch-id anti-join in the store path), the re-dedup derives the
    same clean set, the doc write no-ops, and the re-driven append
    re-appends both tables — its duplicate bucket rows are benign
    (distinct-id counting + pair dedup) and removed by store
    compaction.  Crash after the append: re-run pre-filters every
    admitted id, previously-dropped docs re-drop against the
    now-stored survivors, and :func:`append_batch_signatures`' own
    anti-join appends nothing.

    Per-batch cost: the store is read once (meta with its declared
    schema; signatures and buckets planned, not scanned), and each
    step's work is pinned once — the entrance (deduplicated, its id
    checks observed on the pin), the store pre-filter, the signatures
    (their row count observed for the size guard), the candidates,
    estimates and pairs, and ``clean``.  The counts observed on the
    pins let every id collect run as one job.  Store-side work is one
    columnar pass over the bucket table and one pushed-id probe of the
    signatures table, never corpus-linear text work: the exact
    verify's text fetch pushes the pair-named id set into the lake
    scan as a literal In filter, so a lake written id-clustered (the
    ``sort_col=`` append above) reads a few row groups per dirty
    batch.  ``clean`` is returned pinned, and its signatures are kept
    for :func:`append_batch_signatures`, which appends them without
    signing the docs again.  Ids must be unique across lake and batch
    (the operator's keyed contract); within the batch, exact
    redelivered rows (same id AND text) collapse silently, while the
    same id carrying different text raises."""
    from .idfilter import anti_join_ids, collect_ids_bounded, in_ids

    spark = batch.sparkSession
    store = read_lsh_signature_store(spark, store_path)
    meta = store["meta"]
    _check_store_key(meta, store_path, id_col)
    rows = F.count(F.lit(1))
    # Within-batch id hygiene at the ingest entrance, as metrics of the
    # pin: an exact redelivered row (same id, same text — e.g. one file
    # landing twice in one drain) collapses silently; the same id
    # carrying DIFFERENT text is a keyed-contract violation that would
    # otherwise admit duplicate rows downstream, so it fails loudly
    # here.  A NULL id breaks every keyed mechanism downstream: it
    # passes every anti-join (NULL never equals a store id), never
    # forms dedup pairs, lands in the lake — and then WEDGES a
    # streaming replay, whose divergence probe can never match the NULL
    # id in the committed partition.  One id-partitioned shuffle serves
    # the dedup, the per-id count, and the later id probes.
    batch, checks = _observed_pin(
        batch.select(id_col, text_col)
        .repartition(spark.sparkContext.defaultParallelism, id_col)
        .dropDuplicates([id_col, text_col])
        .withColumn(
            "_id_rows", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        ),
        rows=rows,
        conflicted=F.count(F.when(F.col("_id_rows") > 1, 1)),
        null_ids=F.count(F.when(F.col(id_col).isNull(), 1)),
    )
    batch = batch.drop("_id_rows")
    if checks["conflicted"]:
        sample = [
            r[id_col] for r in batch.groupBy(id_col).count()
            .filter(F.col("count") > 1).limit(5).collect()
        ]
        raise ValueError(
            f"batch carries the same {id_col} with DIFFERENT text "
            f"(e.g. {sample}): ids must identify one document "
            f"(the keyed contract); fix the upstream delivery"
        )
    if checks["null_ids"]:
        raise ValueError(
            f"batch carries rows with NULL {id_col}: the keyed "
            f"exactly-once contract needs every row identified — "
            f"filter or assign ids upstream"
        )
    # exactly-once by id: ids already in the store are a replayed
    # delivery — the guarded pushed-filter anti-join bounds the store
    # read to the row groups that could hold the batch's ids (see
    # operators.idfilter), falling back to the full id-column scan
    # past the guard.  materialize: fresh feeds the signatures, the
    # verify shingles and `clean` — unpinned it would re-run the store
    # probe per consumer, and with every later frame pinned it leaves
    # ZERO live store scans in the returned frames, so `clean` cannot
    # shift when re-evaluated after an append.
    fresh = materialize(
        anti_join_ids(
            batch, store["signatures"], id_col, rows=checks["rows"]
        )
    )
    sketch = dict(text_col=text_col, id_col=id_col, n=meta["n"])
    sigs = _sign_store_batch(
        fresh, num_hashes=meta["num_hashes"], bands=meta["bands"],
        **sketch,
    )
    # distinct: a safety net against duplicate evidence rows (the
    # historical source — the crash-between-doc-write-and-append
    # window, where the half-written lake held the batch docs and
    # verify re-shingled a pair-named batch id twice — is gone now
    # that the verify read is corpus-side-only, but the net is
    # near-dup-count-sized and a convergence contract shouldn't lean
    # on the optimization that made it vacuous).  materialize: the
    # verify stage ends in a corpus-text read, and both the drop rule
    # and the caller consume the pairs.
    pairs, seen = _observed_pin(
        _pairs_against_stored(
            corpus, fresh, sigs, store["signatures"], store["buckets"],
            bands=meta["bands"], threshold=threshold,
            estimate_margin=estimate_margin, max_bucket=max_bucket,
            **sketch,
        ).distinct(),
        rows=rows,
    )
    # batch-vs-corpus pairs drop the batch side (always id_a);
    # batch-batch pairs drop the larger id — stating the RULE rather
    # than the (min, max) orientation the engine emits keeps the drop
    # correct even if a future candidate path surfaces a batch-batch
    # pair the other way round.
    dropped = pairs.select(
        F.when(F.col("_cross"), F.col("id_a"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias(id_col)
    )
    # The drop set is near-dup-count-sized: collected, it filters
    # `fresh` and the signatures alike, with no join to plan.
    drop_ids = collect_ids_bounded(
        dropped, id_col, MAX_VERIFY_ID_PUSHDOWN, rows=seen["rows"]
    )

    def admitted(df: DataFrame) -> DataFrame:
        if drop_ids is None:  # over the bound: broadcast anti-join
            return df.join(F.broadcast(dropped), id_col, "left_anti")
        return df.filter(~in_ids(id_col, drop_ids))

    clean, seen = _observed_pin(admitted(fresh), rows=rows)
    _SIGNED[clean] = (admitted(sigs), meta, seen["rows"])
    return clean, pairs.drop("_cross")


def _fence_lsh_append(spark, store_path: str) -> None:
    """Writer fence for :func:`append_batch_signatures` (round-9
    VERDICT item 2), mirroring ``similarity._fence_ivf_append``: an
    append landing between :func:`compact_lsh_signature_store`'s
    staged rewrite of a table and its swap is lost WITH the swapped-out
    directory, silently — the exact race class the IVF index closed in
    round 9 while this store's single-writer contract stayed
    documentation-only.  The compaction's own staging/backup
    directories (``<table>__compacting`` / ``<table>__old``) double as
    the lease marker: an append that sees either on ``signatures`` or
    ``buckets`` fails loudly instead of racing.  The fence never
    deletes the debris — deleting staging from here would corrupt a
    LIVE compaction; only :func:`compact_lsh_signature_store` (whose
    ``compact_lake_partition`` recovery owns the swap) may."""
    import os

    from ..sources.writers import has_crash_debris

    for table in ("signatures", "buckets"):
        if has_crash_debris(spark, os.path.join(store_path, table)):
            raise ValueError(
                f"LSH store at {store_path} has a compaction in "
                f"flight (or a crashed one): {table}__compacting / "
                f"{table}__old debris exists next to the {table} "
                f"table.  An append now would land in a directory the "
                f"swap discards.  Wait for the maintenance window to "
                f"finish, or if the compaction crashed, re-run "
                f"compact_lsh_signature_store (its recovery rolls the "
                f"table back) before appending"
            )


def append_batch_signatures(
    clean: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lease_token: str = "append",
    lease_stale_after_s: float | None = None,
) -> int:
    """Fold an admitted batch into the LSH store (the "state last" step
    of :func:`ingest_dedup_batch`'s ingest order), idempotently: ids
    already present in SIGNATURES — the last-written table of the
    append, so presence there means the whole append committed — are
    anti-joined away, and a re-driven completed step appends nothing.
    A step that crashed INSIDE the append (after buckets, before
    signatures) re-appends both tables on re-drive: the resulting
    duplicate bucket rows are benign (candidate generation counts
    distinct ids and de-dups pairs; compaction removes them), which is
    the self-healing direction — keying on the FIRST-written table
    would instead skip the re-append and permanently hide the docs
    from bucket probes.  Sketch parameters come from the store's own
    meta — a caller cannot drift them.  Returns the number of docs
    appended (0 on a fully-replayed batch); a doc with NULL text has
    no shingles, gets no signature and is not counted.

    A ``clean`` frame :func:`ingest_dedup_batch` returned is pinned
    with its signatures, built with the store meta of that call: when
    the meta still matches, those signature rows are appended (after
    the anti-join) and the docs are not shingled or signed again.  Any
    other frame is localCheckpointed before the anti-join and signed
    here: a frame built over THIS store's parquet carries scans from
    before any intervening append, and mixing two vintages of the same
    path in one plan lets Spark canonicalize the fresh scan away —
    measured: a stale frame re-appended every row until the checkpoint
    cut its file-scan lineage.  The frame is batch-bounded, so the
    checkpoint is cheap.

    The whole append runs under the store's writer lease
    (``writers.writer_lease``, token ``lease_token``): on
    atomic-create filesystems a concurrent compaction is EXCLUDED, not
    just detected.  Pass a PER-BATCH token (the streaming face passes
    ``f"append:{batch_id}"``) so distinct batches never share one — a
    re-driven crashed attempt of the SAME batch still self-breaks its
    own stale lease (age-gated: only once the lease is presumed
    crashed, ``writers.WRITER_LEASE_STALE_AFTER_S``), while two
    different live batches on one store exclude each other loudly
    instead of silently breaking each other's lease.  The default
    shared token is safe only for a caller that is provably the
    store's sole appender.  The lease heartbeats while held, so the
    staleness window (``lease_stale_after_s``, default
    ``writers.WRITER_LEASE_STALE_AFTER_S``) gates crash RECOVERY
    latency, not the append's duration."""
    import os

    from ..sources.writers import writer_lease

    spark = clean.sparkSession
    with writer_lease(
        spark, store_path, lease_token,
        stale_after_s=lease_stale_after_s,
    ):
        _fence_lsh_append(spark, store_path)
        meta = _read_store_meta(spark, store_path)
        _check_store_key(meta, store_path, id_col)
        signed = _SIGNED.get(clean)
        presigned = signed is not None and signed[1] == meta
        if presigned:
            rows, _, n_rows = signed
        else:
            rows, n_rows = materialize(clean).select(id_col, text_col), None
        from .idfilter import anti_join_ids

        count = F.count(F.lit(1))
        fresh, seen = _observed_pin(
            anti_join_ids(
                rows,
                spark.read.parquet(os.path.join(store_path, "signatures")),
                id_col,
                rows=n_rows,
            ),
            rows=count,
        )
        if not presigned and seen["rows"]:
            fresh, seen = _observed_pin(
                minhash_signatures(
                    shingle_sets(fresh, text_col, id_col, meta["n"]),
                    id_col, meta["num_hashes"],
                ),
                rows=count,
            )
        n_new = seen["rows"]
        if n_new:
            # re-check at the write (the _fence_ivf_append treatment):
            # the anti-join above takes real time.  Under the lease
            # this is defense in depth — it catches CRASH DEBRIS from
            # a compaction whose stale lease was broken, and it keeps
            # violations loud on object stores where the lease's
            # atomic create degrades to advisory.
            _fence_lsh_append(spark, store_path)
            _append_store_tables(fresh, store_path, id_col, meta["bands"])
        return n_new


def compact_lsh_signature_store(
    spark,
    store_path: str,
    target_files: int = 8,
    min_files: int = 0,
    lease_stale_after_s: float | None = None,
) -> dict:
    """Small-file maintenance for a persisted LSH store: rewrite the
    ``signatures`` and ``buckets`` tables down to ``target_files``
    files each (rollback-safe staging+swap via
    ``writers.compact_lake_partition``), de-duplicating the exact
    duplicate bucket rows a crash-healed append leaves behind.  The
    ``meta`` table (one file, the parameter pin) is never touched.

    Why at scale: :func:`append_batch_signatures` lands one file set
    per batch — after thousands of daily batches the store's scan cost
    is dominated by file listing and per-file footer reads, degrading
    the very probes the store exists to speed up.  ``min_files`` makes
    this a cheap no-op trigger (one FS listing per table): a table
    with fewer data files is skipped — EXCEPT a table with crash
    debris (``__old``/``__compacting`` siblings from a maintenance run
    that died mid-swap), which is always revisited so
    ``compact_lake_partition``'s recovery restores it; a min_files
    skip there would leave the store unreadable forever (the table
    itself may be mid-swap and list zero files).  Run from a
    maintenance window; the whole run holds the store's writer lease
    (token ``"compact"``) so a concurrent append is EXCLUDED on
    atomic-create filesystems, not just fenced — a re-run after a
    crash self-breaks its own stale lease (age-gated:
    ``lease_stale_after_s``, default
    ``writers.WRITER_LEASE_STALE_AFTER_S`` — RAISE it when this run
    can exceed the 60 s default at your scale, so an impatient
    same-token re-run is excluded rather than breaking the LIVE
    lease) and its recovery rolls the tables back.  Readers are still
    the caller's contract.  Returns ``{table: files_before}`` with 0
    for skipped tables."""
    import os

    from ..sources.writers import (
        compact_lake_partition,
        count_data_files,
        has_crash_debris,
        writer_lease,
    )

    with writer_lease(
        spark, store_path, "compact",
        stale_after_s=lease_stale_after_s,
    ):
        # meta is the one table maintenance never touches, so it is
        # readable even while a crashed swap has a data table
        # mid-rename — read it DIRECTLY (read_lsh_signature_store also
        # plans the signature/bucket reads, which would throw on a
        # mid-swap table)
        id_col = _read_store_meta(spark, store_path)["id_col"]
        results = {}
        for table, transform, sort_col in (
            # signatures re-cluster globally on id: per-append file
            # sets are only per-batch clustered, and the est stage's
            # pushed candidate-id filter prunes best against a
            # globally sorted table
            ("signatures", None, id_col),
            # exact-duplicate rows only: orphan rows (ids absent from
            # signatures) are left for the next append's self-heal
            ("buckets",
             lambda df: df.dropDuplicates(["band", "bucket", id_col]),
             None),
        ):
            p = os.path.join(store_path, table)
            # crash debris bypasses the min_files gate (the table may
            # be mid-swap and list zero files) and gets the SAME
            # transform + sort as a normal rewrite — recovery that
            # re-clustered round-robin would silently strip the sorted
            # layout the pushed-id probes prune against
            if not has_crash_debris(spark, p) and min_files and (
                count_data_files(spark, p) < min_files
            ):
                results[table] = 0
                continue
            results[table] = compact_lake_partition(
                spark, p, target_files, transform=transform,
                sort_col=sort_col,
            )
        return results


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 63,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) — Charikar random-hyperplane sketch over whitespace
    tokens: bit j is the sign of Σ_tokens (±1 from bit j of
    hash(token)).  Near-dups have small Hamming distance.

    Pure array arithmetic: tokens → per-token hash → per-bit vote
    → packed 63-bit value (63, not 64: bit 63 of a signed long would
    overflow under ANSI arithmetic; one sketch bit is noise-level).
    No shuffle, no UDF.

    ``token_hash``: ``"xxhash64"`` (default — fastest, JVM-native) or
    ``"md5"`` — engine-portable mode: md5 hex digests are identical in
    every engine, so an external system (the DuckDB oracle, a
    validation notebook) can recompute the EXACT same sketches.  The
    md5 path takes bit j from nibble j//4 of the hex digest (MSB-first
    within the nibble)."""
    # 63 per-bit votes over every token hash is the CPU-heavy map
    # stage; do not let it fuse into an under-split scan task.
    df = ensure_min_parallelism(df)
    toks = word_tokens(text_col)
    if token_hash == "md5":
        hashes = F.transform(toks, lambda t: F.md5(t.cast("binary")))

        def bit(h: Column, j: Column) -> Column:
            nibble = F.conv(
                h.substr((F.floor(j / 4) + 1).cast("int"), F.lit(1)), 16, 10
            ).cast("long")
            weight = F.pow(F.lit(2.0), (F.lit(3) - j % 4).cast("double"))
            return F.floor(nibble / weight).cast("long") % 2

    elif token_hash == "xxhash64":
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

        def bit(h: Column, j: Column) -> Column:
            return F.getbit(h, j)

    else:
        raise ValueError(f"unknown token_hash: {token_hash}")
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda j: F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(bit(h, j) == 1, 1).otherwise(-1),
        ),
    )
    # 2^j is exact in a double for any j ≤ 62, so pow+cast packs without
    # a Column-typed shiftleft (which PySpark doesn't offer).
    packed = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, j: F.when(
                v > 0, F.pow(F.lit(2.0), j).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Candidate generation: band the 64-bit sketch into 64/band_bits
    chunks — any pair within Hamming ≤ (bands-1) shares ≥1 exact band
    (pigeonhole), so with 4 bands of 16 bits recall is total for d ≤ 3.
    Verification: ``bit_count(a XOR b)``."""
    sh = simhash(df, text_col, id_col, token_hash=token_hash)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    # Static band unroll: shiftright's bit count must be a Python int.
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    a = banded.select(
        "band", "chunk", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = banded.select(
        "band", "chunk", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b")
    )
    pairs = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def edit_distance_candidates(
    df: DataFrame,
    block_cols: list,
    prefix_len: int = 120,
    max_dist: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs: candidate pairs are
    generated ONLY within a block (same ``block_cols`` values — e.g.
    language + a length bucket), then scored with the built-in JVM
    ``levenshtein`` on a ``prefix_len``-char prefix.

    Edit distance is quadratic per pair, so the all-pairs formulation
    is unusable at corpus scale; blocking bounds work at
    Σ|block|² pairs, the same candidate-limiting contract as the LSH
    banding operators (which are the scale path for fuzzy dedup — this
    operator is the high-precision scorer applied to small blocks or to
    LSH survivor pairs).  The prefix cap bounds per-pair cost at
    ``prefix_len²`` char ops regardless of document length.  The join
    shuffles on the block key; no text leaves its block's partition
    twice.  Output: (id_a, id_b, dist), id_a < id_b, dist <= max_dist."""
    base = df.select(
        *[F.col(c) if isinstance(c, str) else c for c in block_cols],
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix_len).alias("_pfx"),
    )
    names = base.columns[: len(block_cols)]
    a = base.select(
        *names, F.col(id_col).alias("id_a"), F.col("_pfx").alias("_pa")
    )
    b = base.select(
        *names, F.col(id_col).alias("id_b"), F.col("_pfx").alias("_pb")
    )
    return (
        a.join(b, names)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            *names,
            "id_a",
            "id_b",
            # Thresholded form (Spark 3.5+): banded O(prefix·max_dist)
            # instead of the full O(prefix²) DP — it returns the exact
            # distance when <= max_dist and -1 otherwise, so the >= 0
            # filter below IS the <= max_dist cut, and kept pairs
            # carry the exact distance: output is identical to the
            # unthresholded filter (round-13 optimization; equivalence
            # pinned by tests/test_text_ops.py).
            # (threshold is a plain int — PySpark 4.1 rejects a Column)
            F.levenshtein("_pa", "_pb", max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join (prefix filtering)
# ---------------------------------------------------------------------------

def exact_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    ngram: int | None = None,
    positional_filter: bool = False,
) -> DataFrame:
    """ALL pairs with exact token-set Jaccard >= ``threshold`` — zero
    false negatives, the guarantee LSH cannot give — via prefix
    filtering (Chaudhuri et al. '06; Bayardo et al. WWW'07 "scaling up
    all pairs similarity search").

    With tokens globally ordered rarest-first (by (document frequency,
    token)), any pair with Jaccard >= t shares at least one token
    inside both documents' (|s| - ceil(t*|s|) + 1)-prefixes, so
    joining ONLY prefix rows finds every qualifying pair.  Rare tokens
    lead the prefix by construction, so join buckets stay small —
    the quadratic stage is Σ|token bucket|² over rare tokens, never
    |corpus|².  A length filter (t*|a| <= |b| on the candidate) prunes
    pairs no verification could pass.  Survivors verify with one
    array_intersect/array_union pass over the two token arrays.

    Cost shape at scale: one token-keyed shuffle for document
    frequencies, one doc-keyed window for prefix ranks, the
    prefix-token self-join, and an id-keyed join back to the token
    arrays for verification — every stage keyed, no driver state.

    ``ngram=N`` switches the set unit from whitespace words to distinct
    character N-grams (the MinHash shingle unit) — on small-vocabulary
    corpora word SETS collapse to near-identical and prefix filtering
    degenerates, while shingles keep rare tokens rare.
    """
    if ngram is not None:
        toks_arr = F.array_distinct(
            char_ngrams(F.col(text_col), ngram)
        )
    else:
        toks_arr = F.array_distinct(
            word_tokens(text_col)
        )
    # Materialized once (same policy as minhash_near_duplicates'
    # shingled frame): base feeds THREE consumers — the exploded flat
    # frame below (itself planned under two exchanges: dfreq's partial
    # agg and the ranked join) and the sa/sb verify joins.  Without the
    # lineage cut each consumer would re-tokenize the full corpus.
    base = materialize(
        df.select(F.col(id_col).alias("_id"), toks_arr.alias("_s")).filter(
            F.size("_s") > 0
        )
    )
    flat = base.select(
        "_id", F.size("_s").alias("_sz"), F.explode("_s").alias("_tok")
    )
    dfreq = flat.groupBy("_tok").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_tok")
    ranked = (
        flat.join(dfreq, "_tok")
        .withColumn("_rn", F.row_number().over(w))
    )
    # prefix length: |s| - ceil(t*|s|) + 1.  Every ceil below is
    # epsilon-guarded: IEEE rounding can push t*|s| a hair ABOVE the
    # exact rational (0.55*100 = 55.000000000000007), and a raw ceil
    # would then round past the true integer bound — shortening the
    # prefix / tightening the filters and dropping qualifying pairs,
    # which breaks the zero-false-negative contract.  Sizes are
    # integers, so an epsilon far below 1/|s|^2 cannot loosen a bound.
    _eps = 1e-9
    pfx = ranked.filter(
        F.col("_rn")
        <= F.col("_sz")
        - F.ceil(F.col("_sz") * F.lit(threshold) - _eps) + 1
    ).select("_tok", "_id", "_sz", "_rn")
    a = pfx.select(
        "_tok",
        F.col("_id").alias("id_a"),
        F.col("_sz").alias("_sa"),
        F.col("_rn").alias("_pa"),
    )
    b = pfx.select(
        "_tok",
        F.col("_id").alias("id_b"),
        F.col("_sz").alias("_sb"),
        F.col("_rn").alias("_pb"),
    )
    # J >= t forces overlap o >= ceil(t/(1+t) * (|a|+|b|)) — used by
    # both the positional filter and (in its t*|a| <= |b| form) the
    # length filter.
    o_req = F.ceil(
        (F.col("_sa") + F.col("_sb"))
        * F.lit(threshold / (1.0 + threshold)) - _eps
    )
    cand = (
        a.join(b, "_tok")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces t*|a| <= |b| and t*|b| <= |a|
        .filter(
            (F.col("_sb") >= F.ceil(F.col("_sa") * F.lit(threshold) - _eps))
            & (F.col("_sa") >= F.ceil(F.col("_sb") * F.lit(threshold) - _eps))
        )
    )
    if positional_filter:
        # PPJoin positional filter: common tokens beyond this shared
        # one all sit after positions (_pa, _pb), so overlap <=
        # 1 + min(|a|-_pa, |b|-_pb).  Safe for recall: a qualifying
        # pair's FIRST common token has no common tokens before it,
        # hence its occurrence meets the bound and survives; later
        # occurrences of the same pair may be dropped (the distinct
        # keeps pairs surviving via any occurrence), and survivors are
        # exactly verified anyway.  Off by default: on the synthetic
        # small-vocabulary corpus the per-occurrence bound prunes
        # little and measured 1.8x SLOWER end-to-end (13s -> 23s at
        # sf0.01); on Zipfian real-text corpora (where prefix tokens
        # of unrelated docs sit at late ranks) it is the standard
        # candidate-count win and should be enabled.
        cand = cand.filter(
            F.lit(1)
            + F.least(
                F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
            )
            >= o_req
        )
    cand = cand.select("id_a", "id_b").distinct()
    sa = base.select(F.col("_id").alias("id_a"), F.col("_s").alias("_ta"))
    sb = base.select(F.col("_id").alias("id_b"), F.col("_s").alias("_tb"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    union = F.size(F.array_union(F.col("_ta"), F.col("_tb")))
    # Verify on the UNROUNDED ratio: the prefix filter's zero-FN
    # guarantee covers exact J >= t only — a post-round filter would
    # additionally admit J in [t-5e-7, t) pairs that round up, for
    # which candidate generation promises nothing.  round(…, 6) in the
    # output column stays presentation-only.
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / F.greatest(union, F.lit(1))).alias("_raw"),
        )
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Maximal repeated spans (exact substring-level dedup)
# ---------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document repeated-span profile — the exact
    substring-level dedup signal of Lee et al. '22 ("Deduplicating
    Training Data Makes Language Models Better", which drops repeated
    50-token spans), at word granularity: a position is COVERED when
    the ``width``-word gram starting there also occurs in at least one
    OTHER document; runs of covered positions merge into maximal
    spans.  This catches long verbatim borrowings that document-level
    hashing (different surroundings) and fixed passage grids
    (misaligned cuts) both miss.

    Per doc: ``n_tokens``, ``n_dup_spans``, ``covered_tokens`` (tokens
    inside merged spans), ``longest_span``, ``covered_frac``.  Docs
    with no repeated span report zeros — the downstream filter decides
    thresholds, the profile never drops rows.

    Scale shape: gram fan-out is JVM ``sequence``+``transform``; the
    duplicated-gram set comes from a gram-keyed hash aggregate
    (map-side combined, carries one row per distinct gram per
    partition) requiring min(doc) < max(doc) — never a self-join.
    Covered positions re-join that set on the same gram key (exchange
    reuse), and span merging is a per-document window (``lag`` over
    positions): interval ends are monotone for fixed-width grams, so a
    span breaks exactly where ``pos - lag(pos) > width - 1``.  Both
    windows partition on the document key — partitions are doc-sized,
    never corpus-sized.  The gram identity is the text itself so the
    oracle is exact; production corpora should swap in
    ``xxhash64(gram)`` to shrink the shuffle (collision odds ~n²/2⁶⁴),
    which changes no downstream logic."""
    df = ensure_min_parallelism(df)
    toks = word_tokens(text_col)
    base = materialize(
        df.select(F.col(id_col), toks.alias("_t")).select(
            id_col, "_t", F.size("_t").cast("long").alias("n_tokens")
        )
    )
    grams = base.filter(F.size("_t") >= width).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - width),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_t"), i + 1, width)
                ),
            )
        ).alias("_pos", "_g"),
    )
    dup = (
        grams.groupBy("_g")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .filter(F.col("_lo") < F.col("_hi"))
        .select("_g")
    )
    # (id, pos) is unique by construction — posexplode emits each
    # position once and the build side is distinct on the gram key —
    # so no dedup of covered positions is needed before the window:
    # a distinct here would shuffle the covered-position frame (corpus-
    # sized on duplicated corpora) a second time for nothing (measured
    # 1.86 s -> 1.25 s at sf0.1 on removal, identical output).
    cov = grams.join(dup, "_g").select(id_col, "_pos")
    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = (
        F.when(F.lag("_pos").over(w).isNull(), 1)
        .when(F.col("_pos") - F.lag("_pos").over(w) > width - 1, 1)
        .otherwise(0)
    )
    islands = cov.select(
        F.col(id_col), F.col("_pos"), F.sum(brk).over(w).alias("_isl")
    )
    spans = islands.groupBy(id_col, "_isl").agg(
        F.min("_pos").alias("_s"),
        (F.max("_pos") + width - 1).alias("_e"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias(
            "covered_tokens"
        ),
        F.max(F.col("_e") - F.col("_s") + 1).cast("long").alias(
            "longest_span"
        ),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("covered_frac"),
        )
    )


def containment_join(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int | None = None,
    positional_filter: bool | None = None,
) -> DataFrame:
    """EXACT containment self-join: ordered pairs with
    ``C(A,B) = |A∩B| / |A| >= threshold`` — Broder '97's second
    resemblance measure.  Containment is ASYMMETRIC: it flags a short
    document quoted verbatim inside a much longer one, which Jaccard
    never can (the union is container-sized, so J stays near
    |A|/|B| no matter how completely A is swallowed).  The curation
    use is subsumption dedup: drop docs whose content a kept doc
    already carries.

    Zero false negatives by prefix filtering on the CONTAINED side
    only: order each set's elements rarest-first (global document
    frequency, ties lexicographic); if B misses all of A's first
    ``|A| - ceil(t*|A|) + 1`` elements, then |A∩B| <= ceil(t*|A|)-1 <
    t*|A| — so candidates generated from A-prefix tokens are
    exhaustive.  No symmetric prefix or length filter exists for
    containment (|B| is unbounded), so the container side posts ALL
    its elements into the candidate hash join — which is cheaper than
    it sounds: postings for never-prefix (hot) tokens simply miss the
    prefix build side and are discarded at probe time with ZERO
    fan-out, so the join's output is governed by the document
    frequencies of PREFIX tokens only, which rarest-first ordering
    keeps minimal.  (A semi-join pre-reduction of the postings to the
    prefix vocabulary was measured 2x SLOWER at 200k Zipf docs — it
    re-shuffles the full posting list once more to remove rows the
    hash join would have dropped for free.)  Survivors verify with
    one exact array_intersect over the two element arrays.

    Returns (contained_id, container_id, containment) — both
    directions may appear when each side clears its own denominator.

    ``ngram=N`` switches the set unit to distinct character N-grams
    (same rationale as exact_jaccard_join: on small-vocabulary corpora
    word sets collapse and prefix filtering degenerates).

    ``positional_filter`` — PPJoin-style positional prune on candidate
    pairs, recall-safe (a qualifying direction's FIRST shared token in
    the global rarest-first order has no shared token before it in
    EITHER doc, so overlap ≤ 1 + min(|A|−p_A, |B|−p_B) holds at that
    occurrence and the pair survives; survivors are exactly verified
    anyway).  ``None`` (default) AUTO-DECIDES from one cheap aggregate:
    the candidate join's exact fan-out Σ_tok |pfx(tok)|·df(tok) is
    computed pre-join (an aggregate over the materialized prefix frame
    joined to dfreq — no pair blow-up), and the prune turns on when
    fan-out exceeds 50× the corpus doc count — the self-similar-corpus
    degeneracy where candidate pairs, not postings, dominate (on
    benign Zipf corpora the bound prunes little and the container-side
    rank recompute it needs is pure overhead, so it stays off).  The
    chosen mode is logged at INFO."""
    if ngram is not None:
        toks_arr = F.array_distinct(char_ngrams(F.col(text_col), ngram))
    else:
        toks_arr = F.array_distinct(word_tokens(text_col))
    # One lineage cut, three consumers (flat frame + both verify
    # joins) — identical policy to exact_jaccard_join.
    base = materialize(
        df.select(F.col(id_col).alias("_id"), toks_arr.alias("_s")).filter(
            F.size("_s") > 0
        )
    )
    flat = base.select(
        "_id", F.size("_s").alias("_sz"), F.explode("_s").alias("_tok")
    )
    dfreq = flat.groupBy("_tok").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_tok")
    ranked = flat.join(dfreq, "_tok").withColumn(
        "_rn", F.row_number().over(w)
    )
    # epsilon-guarded ceil: same IEEE-rounding rationale as
    # exact_jaccard_join — a raw ceil(t*|s|) can round past the exact
    # rational and shorten the prefix, breaking exhaustiveness.
    _eps = 1e-9
    pfx = materialize(
        ranked.filter(
            F.col("_rn")
            <= F.col("_sz")
            - F.ceil(F.col("_sz") * F.lit(threshold) - _eps) + 1
        ).select(
            "_tok",
            F.col("_id").alias("contained_id"),
            F.col("_sz").alias("_sa"),
            F.col("_rn").alias("_pa"),
        )
    )
    if positional_filter is None:
        # Exact candidate-join fan-out, computed WITHOUT the join:
        # Σ_tok |pfx rows| × df.  Both inputs are already-reduced
        # aggregates (pfx is materialized, dfreq one hash agg), so
        # this is one bounded single-row collect — the same class of
        # guard as validate.py's aggregated validation row.
        fan = (
            pfx.groupBy("_tok")
            .agg(F.count("*").alias("_pn"))
            .join(dfreq, "_tok")
            .agg(F.sum(F.col("_pn") * F.col("_df")).alias("_fan"))
            .first()["_fan"]
            or 0
        )
        n_docs = base.count()
        positional_filter = fan > 50 * n_docs
        import logging

        logging.getLogger(__name__).info(
            "containment_join auto positional_filter=%s "
            "(candidate fan-out %d vs %d docs)",
            positional_filter, fan, n_docs,
        )
    # Canonicalize candidates to UNORDERED pairs before the verify:
    # the intersection is symmetric, so one array_intersect serves
    # both directions (each with its own denominator) — halving the
    # verify join's array shuffle.  Exactness holds: any direction
    # with C >= t was independently generated from ITS contained
    # side's prefix (surviving the positional bound when enabled —
    # see the docstring's first-shared-token argument), so it is
    # present in the unordered union.
    # container-size bound: |A∩B| <= |B|, so C(A,B) >= t forces
    # |B| >= ceil(t*|A|) — the one length filter containment admits
    # (the Jaccard-style upper bound on |B| does not exist: a
    # container may be arbitrarily larger).  Applied only in the
    # positional branch, which already threads the container size:
    # adding _sb to the PLAIN posting frame was measured to flip the
    # candidate join's build side from the prefix frame to the
    # corpus-sized posting frame (BuildLeft→BuildRight via changed
    # size estimates) — 22.6 s → 39 s on the 200k Zipf lane for a
    # filter worth far less than the flip costs.  Counterfactual on
    # the sf0.1 self-similar lane (uniform doc sizes, the corpus
    # shape that auto-enables this branch): 31.4 s with vs 32.0 s
    # without, identical 14.1M pairs — neutral there, because equal
    # sizes never violate the bound; the prune pays on size-VARIED
    # corpora where a long contained doc meets short containers.
    size_ok = F.col("_sb") >= F.ceil(
        F.col("_sa") * F.lit(threshold) - _eps
    )
    if positional_filter:
        b = ranked.select(
            "_tok",
            F.col("_id").alias("container_id"),
            F.col("_sz").alias("_sb"),
            F.col("_rn").alias("_pb"),
        )
        raw_cand = (
            pfx.join(b, "_tok")
            .filter(F.col("contained_id") != F.col("container_id"))
            .filter(size_ok)
            # overlap needed: |A∩B| >= ceil(t*|A|); available beyond
            # this shared occurrence: 1 + min(|A|-p_A, |B|-p_B)
            .filter(
                F.lit(1)
                + F.least(
                    F.col("_sa") - F.col("_pa"),
                    F.col("_sb") - F.col("_pb"),
                )
                >= F.ceil(F.col("_sa") * F.lit(threshold) - _eps)
            )
        )
    else:
        b = flat.select("_tok", F.col("_id").alias("container_id"))
        raw_cand = pfx.join(b, "_tok").filter(
            F.col("contained_id") != F.col("container_id")
        )
    cand = raw_cand.select(
        F.least("contained_id", "container_id").alias("_lo"),
        F.greatest("contained_id", "container_id").alias("_hi"),
    ).distinct()
    sl = base.select(F.col("_id").alias("_lo"), F.col("_s").alias("_tl"))
    sh2 = base.select(F.col("_id").alias("_hi"), F.col("_s").alias("_th"))
    inter = F.size(F.array_intersect("_tl", "_th"))
    both = cand.join(sl, "_lo").join(sh2, "_hi").select(
        "_lo",
        "_hi",
        inter.alias("_i"),
        F.size("_tl").alias("_nl"),
        F.size("_th").alias("_nh"),
    )
    # Filter each direction on its UNROUNDED ratio: the contained-side
    # prefix filter guarantees candidates for exact C >= t only, so a
    # post-round filter would admit C in [t-5e-7, t) pairs that round
    # up — outside the zero-FN contract.  round(…, 6) stays in the
    # output column as presentation.
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_lo").alias("contained_id"),
                    F.col("_hi").alias("container_id"),
                    (F.col("_i") / F.col("_nl")).alias("containment"),
                ),
                F.struct(
                    F.col("_hi").alias("contained_id"),
                    F.col("_lo").alias("container_id"),
                    (F.col("_i") / F.col("_nh")).alias("containment"),
                ),
            )
        ).alias("_d")
    )
    return (
        directed.select("_d.*")
        .filter(F.col("containment") >= threshold)
        .select(
            "contained_id",
            "container_id",
            F.round("containment", 6).alias("containment"),
        )
    )
