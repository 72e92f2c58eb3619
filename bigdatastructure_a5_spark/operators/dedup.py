"""Near-duplicate detection for training-data pipelines (extension scope,
BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Absent from the reference (it has no data); designed Spark-first for 100 TB:

- the only all-pairs computation is *within LSH buckets* (candidate
  generation is a shuffle on band hashes, never a cross join);
- signatures/hashes are pure Catalyst expressions (xxhash64, higher-order
  functions) — zero Python in the executor loop;
- exact-Jaccard verification joins candidates back to shingle sets, i.e.
  cost scales with candidate count, not corpus size squared.

MinHash/LSH background: Broder 1997 (resemblance via min-wise permutations);
banding analysis per Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*
ch. 3.  SimHash: Charikar 2002.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.functions.hashing import (
    tokens,
    word_shingles_from_tokens,
)
from bigdatastructure_a5_spark.session import (
    ensure_min_partitions,
    persist_df,
)


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles: array<bigint> DISTINCT xxhash64'd word n-grams).
    Documents shorter than n words are dropped (their shingle set would be
    empty — they cannot match anything).

    Two deliberate representation choices, both for the 100 TB case:

    - Tokenize into a materialized column first so the shingling transform
      binds a column reference, not a nested split() — see
      ``word_shingles_from_tokens`` for why that is ~9x faster.
    - Hash each shingle to 8 bytes IMMEDIATELY and keep only hashes: every
      downstream consumer (minhash, inverted-index join, intersection
      counts) compares shingles for equality, never reads them back, so
      carrying strings just inflates shuffle/cache width (measured ~10x
      slower to persist).  |distinct hashes| == |distinct strings| short of
      a 64-bit collision (birthday bound ~2^32 distinct shingles), the same
      risk the hash-join already takes.
    - Drop the too-short documents HERE, as a linear token-count check
      between tokenize and shingle.  A downstream
      ``filter(size(shingles) > 0)`` looks equivalent but is poison:
      Catalyst pushes it below this projection and inlines the whole
      split() into every element_at of the predicate — re-tokenizing per
      shingle position, O(tokens²) per document (measured 10x slower than
      the projection itself).  Consumers may assume every emitted set is
      non-empty.
    """
    return shingle_sets_from_tokens(
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks")),
        id_col="id",
        toks_col="toks",
        n=n,
    )


def shingle_sets_from_tokens(
    df: DataFrame, id_col: str = "id", toks_col: str = "toks", n: int = 3
) -> DataFrame:
    """shingle_sets over an ALREADY-tokenIZED column — the fusion entry
    point: a pipeline that materialized the token array for scoring (e.g.
    pipeline_curation's n_tokens/quality stage) feeds it straight into
    shingling instead of re-running the tokenizer regex over the text,
    which is the single heaviest per-row map in the curation flow."""
    from bigdatastructure_a5_spark.session import (
        require_generate_filter_exclusion,
    )

    require_generate_filter_exclusion(df.sparkSession)
    return (
        df.select(F.col(id_col).alias("id"), F.col(toks_col).alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "id",
            F.array_distinct(
                F.transform(
                    word_shingles_from_tokens("toks", n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("shingles"),
        )
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 128
) -> DataFrame:
    """(id, sig: array<bigint> of length num_hashes).

    The i-th signature component is min over shingles of ``xxhash64(i, s)`` —
    salting the single 64-bit hash family by the component index is the
    standard substitute for num_hashes independent permutations.

    Computed ENTIRELY map-side as a nested higher-order expression over the
    materialized hash array: ``transform(0..n-1, i -> array_min(transform(
    hs, h -> xxhash64(i, h))))``.  Two formulations were measured at sf0.1:

    - this projection: 0.26s, ZERO shuffle;
    - explode + groupBy(id) with num_hashes MIN aggregates: 1.2s, and the
      shuffle carries a num_hashes x 8 B partial-min row per doc per
      partition — at 100 TB that is tens of TB of signature state moved
      for no reason.

    (An earlier note claimed the nested form was ~50x slower — that
    measurement predates hashed shingle arrays: the inner expression was
    re-tokenizing the document per element.  Over a bound array column the
    nested HOF is interpreted but cheap, and beats shuffling.)

    shingle_sets guarantees non-empty sets (do NOT re-filter on
    size(shingles) — see its docstring), so array_min never sees an empty
    array.
    """
    hs = F.col("shingles")
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hs, lambda h: F.xxhash64(i, h))),
    )
    return shingled.select("id", sig.alias("sig"))


def band_keys(
    signatures: DataFrame, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, bhash) — one row per document per LSH band, the join key
    both candidate generators shuffle on.  Factored out of
    lsh_candidate_pairs so streaming/dedup.py can persist the SAME keys as
    its cross-batch index (the stored index and the in-batch join can then
    never disagree on banding arithmetic).

    Enforces the signature-length precondition at runtime (see
    lsh_candidate_pairs for why a short signature silently degenerates the
    self-join to all-pairs)."""
    needed = bands * rows_per_band
    guarded_sig = F.when(
        F.size("sig") >= needed, F.col("sig")
    ).otherwise(
        F.raise_error(
            f"band_keys needs signatures of length >= {needed} "
            f"(bands={bands} x rows_per_band={rows_per_band}); got a "
            "shorter one — pass num_hashes >= bands*rows_per_band"
        )
    )
    return signatures.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        b,
                        F.slice(
                            guarded_sig, b * rows_per_band + 1, rows_per_band
                        ),
                    ).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bhash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 32,
    rows_per_band: int = 4,
    tracker: list | None = None,
    banded_keys: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing >= 1 LSH band.

    bands x rows_per_band must equal the signature length.  With b=32, r=4 a
    pair at Jaccard 0.8 is caught with prob 1-(1-0.8^4)^32 ~ 1-1e-7; at 0.3
    almost never — the curve that makes this subquadratic.  The heavy op is
    a self-join on (band, band_hash): a shuffle keyed by 16 bytes, no cross
    join anywhere.

    The length precondition is ENFORCED at runtime (one size comparison
    folded into the banding expression, in band_keys): a signature shorter
    than bands x rows_per_band would make ``slice`` return an EMPTY array
    for the tail bands, hashing every document to the same constant
    bucket — the self-join silently degenerates to all-pairs, destroying
    the subquadratic guarantee exactly when nothing looks wrong.

    ``banded_keys`` lets a caller that ALREADY materialized the band-key
    frame (``band_keys(signatures, ...)`` — e.g. streaming/dedup's
    ``process_batch``, which also joins the keys against its stored index
    and appends them to that index) pass it in: the self-join then reads
    the caller's persisted frame instead of re-deriving the whole
    shingle -> minhash -> banding subtree per side.  The caller owns the
    frame's persistence/release; ``signatures`` is ignored in that case.
    """
    from bigdatastructure_a5_spark.session import adopt_tracker

    tracker, finish = adopt_tracker(tracker)
    if banded_keys is not None:
        banded = banded_keys
    else:
        # The self-join evaluates its child once PER SIDE — without a
        # persist the whole shingle -> minhash -> banding subtree (the
        # expensive 64-min aggregation) runs twice.  The caller releases
        # it via session.materialize_release(tracker); standalone (no
        # tracker) the function materializes its result and releases
        # before returning.
        banded = persist_df(band_keys(signatures, bands, rows_per_band))
        tracker.append(banded)
    a, b = banded.alias("a"), banded.alias("b")
    result = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return finish(result)


def jaccard_pairs(
    shingled: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    tracker: list | None = None,
    df_cap: int | None = None,
    prepersisted: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity pairs (id_a, id_b, jaccard >= threshold).

    Without ``candidates``: inverted-index join on shingles (cost ~ sum of
    posting-list squares — fine when no shingle is super-common; for 100 TB
    pair it with LSH candidates instead).  With ``candidates``: verification
    only of those pairs.  Jaccard = |A∩B| / (|A|+|B|-|A∩B|) — exact integer
    counts, one deterministic double division.

    Cache contract (also lsh_candidate_pairs, near_duplicates_minhash,
    simhash_near_pairs): self-join inputs that are persisted go on the
    ``tracker``, and the caller releases them via
    session.materialize_release; without one the function materializes
    its own result and releases before returning — no persisted frame
    outlives the call either way.  The uncapped inverted-index path and
    the verification path persist nothing: they return a lazy frame and
    run no Spark job, tracker or not.  Only the ``df_cap`` path persists
    (the shingle sets unless ``prepersisted``, and the capped index).

    ``df_cap`` (inverted-index path only) is the scale guard against hot
    shingles: a shingle present in d documents contributes d² join rows, so
    one boilerplate trigram shared by 1M docs means 10¹² rows from a single
    key.  With a cap, shingles whose document frequency exceeds it are
    removed from the shingle space entirely — the index, the intersection
    counts AND the set sizes — i.e. Jaccard is computed exactly over the
    capped vocabulary (the standard stop-shingle approximation; boilerplate
    shingles carry no near-dup signal anyway).  Deterministic, so a capped
    oracle is expressible; the registered gate queries run uncapped.

    ``prepersisted=True`` (inverted-index path): the caller passes a
    ``shingled`` frame that is ALREADY persisted (or a cheap projection
    of a persisted frame) and wide enough — skip the internal
    ensure_min_partitions (and, with ``df_cap``, the persist_df), so a
    pipeline that caches ONE fused frame (e.g. curate_documents'
    scored+shingled cache) reads that cache instead of re-widening it.
    """
    from bigdatastructure_a5_spark.session import adopt_tracker

    # shingle_sets emits only non-empty sets; no size filter needed (and a
    # size-on-computed-array predicate is pathological — see shingle_sets).
    nonempty = shingled
    tracker, finish = adopt_tracker(tracker)

    if candidates is not None:
        # verification path: candidate pairs are few — join their shingle
        # ARRAYS back and intersect in place (no inverted index, no second
        # big shuffle; cost ~ |candidates|).  This path persists nothing
        # itself, so finish() only matters for caller-tracked frames.
        sa = nonempty.select(
            F.col("id").alias("id_a"), F.col("shingles").alias("sha")
        )
        sb = nonempty.select(
            F.col("id").alias("id_b"), F.col("shingles").alias("shb")
        )
        joined = candidates.join(sa, "id_a").join(sb, "id_b")
        i = F.size(F.array_intersect("sha", "shb"))
        union = F.size("sha") + F.size("shb") - i
        return finish(
            joined.select(
                "id_a",
                "id_b",
                (i.cast("double") / union.cast("double")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # full-corpus path: inverted-index join.  Join on 8-byte shingle hashes,
    # not strings: smaller shuffle, faster equality.  A 64-bit collision
    # would need ~2^32 distinct shingles to be likely (birthday bound);
    # counts stay exact far beyond this corpus, and the DuckDB oracle
    # (string joins) would expose one deterministically.
    if df_cap is None:
        # One lazy plan: each posting row carries its document's set size
        # n, so the pair's sizes ride through the join and come out of the
        # same aggregate as the intersection count — no size lookups, no
        # cache.  Both join sides are the same subtree, so Spark reuses the
        # posting list's exchange and shingles each document once.  n is
        # an aggregate INPUT (max of a per-id constant), never a grouping
        # key: grouping by it lets Catalyst infer
        # isnotnull(size(<shingle expression>)) and push it into the scan,
        # re-tokenizing each document once per shingle position
        # (tests/test_plan_shape.py pins the plan).
        if not prepersisted:
            # spread the shingling over the executor pool: a one-split
            # source would otherwise tokenize in a single task
            nonempty = ensure_min_partitions(nonempty)
        exploded = nonempty.select(
            "id", F.size("shingles").alias("n"), F.explode("shingles").alias("g")
        )
    else:
        # The shingle sets feed the hot-shingle count and the anti-join,
        # which share no exchange, so persist the single shingling pass —
        # spread across the executor pool first.  (Skipped when the caller
        # already persisted the frame — see the docstring.)
        if not prepersisted:
            nonempty = persist_df(ensure_min_partitions(nonempty))
            tracker.append(nonempty)
        exploded = nonempty.select("id", F.explode("shingles").alias("g"))
        # hot-shingle set: tiny by construction (only keys with df > cap),
        # so broadcast the anti-join — no extra shuffle of the index.
        hot = (
            exploded.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("g")
        )
        exploded = persist_df(
            exploded.join(F.broadcast(hot), "g", "left_anti")
        )
        tracker.append(exploded)
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    ).groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if df_cap is None:
        counted = pairs.agg(
            F.count(F.lit(1)).alias("i"),
            F.max("a.n").alias("na"),
            F.max("b.n").alias("nb"),
        )
    else:
        # set sizes over the capped vocabulary
        sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
        counted = (
            pairs.agg(F.count(F.lit(1)).alias("i"))
            .join(sa, "id_a")
            .join(sb, "id_b")
        )
    result = counted.select(
        "id_a",
        "id_b",
        (
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return finish(result)


def near_duplicates_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    tracker: list | None = None,
) -> DataFrame:
    """Full scalable pipeline: shingle -> minhash -> LSH bucket-join ->
    exact-Jaccard verification of candidates only.  Cache contract as
    jaccard_pairs: pass ``tracker`` to release via materialize_release,
    or omit it for an internal materialize-then-release."""
    from bigdatastructure_a5_spark.session import adopt_tracker

    if num_hashes % bands != 0 or num_hashes < bands:
        # num_hashes // bands would silently truncate, leaving tail
        # signature components unused (or, worse, under-length bands)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    tracker, finish = adopt_tracker(tracker)
    # Consumed by both the signature branch and the verification joins;
    # one parallel shingling pass instead of three.
    shingled = persist_df(
        ensure_min_partitions(shingle_sets(df, id_col, text_col, shingle_n))
    )
    tracker.append(shingled)
    sigs = minhash_signatures(shingled, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands, tracker=tracker)
    result = jaccard_pairs(shingled, threshold, candidates=cands, tracker=tracker)
    return finish(result)


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash: bigint) — Charikar sign-random-projection over token
    hashes: bit b of the fingerprint is the sign of sum over tokens of
    (bit b of hash(token) ? +1 : -1), i.e. 1 iff more than half the
    token occurrences have bit b set.  Near-duplicates differ in few bits
    (small Hamming distance).

    Tokens hash with the 60-bit md5 prefix (functions.hashing.md5_hash60),
    whose arithmetic DuckDB reproduces, so the fingerprints (and the
    near-pair query built on them) are oracle-checkable bit-for-bit.
    Bits 60-63 are always 0; every downstream consumer (Hamming, chunking)
    treats the print as a 64-bit word.

    Rows with a NULL token array (null text) AND rows whose text is
    empty/whitespace-only (normalizes to the one-token array ['']) are
    DROPPED.  The latter all share fingerprint hash(''): k such docs
    would form one Hamming-0 bucket and the candidate self-join would
    materialize k² rows from that single key — at corpus scale an
    unbounded quadratic blowup for pairs that carry no near-dup signal
    (exact dedup already groups empty docs in O(k)).

    Computed ENTIRELY map-side as a SINGLE aggregate fold: one pass over
    the token-hash array accumulates all per-bit counts into a
    ``nbits``-element counter array (``zip_with`` against a literal
    power-of-two weight array; bit b of h tested as ``h & 2^b != 0``),
    then one more ``zip_with`` turns majority counts into fingerprint
    bits.  Two rejected formulations, both computing identical values
    (verified at sf0.1):

    - per-bit expressions (``nbits`` x ``size(filter(hs, ...))`` terms):
      a ~3000-node expression tree costing ~4.5s of Catalyst ANALYSIS per
      fresh plan — driver-side, unavoidable per query;
    - explode + groupBy(id) with ``nbits`` conditional sums: ships
      ~nbits x 8 B of partial-aggregate state per document through a
      shuffle.

    This formulation is a constant-size expression tree and a pure
    projection: fast to plan, zero shuffle at any scale, scan speed on a
    partitioned 100 TB corpus.
    """
    from bigdatastructure_a5_spark.functions.hashing import md5_hash60, tokens
    from bigdatastructure_a5_spark.functions.vectors import long_array_lit

    nbits = 60
    weights = long_array_lit([1 << b for b in range(nbits)])
    hs = F.col("__hs")
    n = F.size(hs)
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("bigint"), nbits),
        lambda acc, h: F.zip_with(
            acc,
            weights,
            lambda a, w: a
            + F.when(h.bitwiseAND(w) != 0, F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda c, w: F.when(c * 2 > n, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .filter(
            (F.size("__toks") > 0)
            & ~((F.size("__toks") == 1) & (F.element_at("__toks", 1) == ""))
        )
        .select("id", F.transform("__toks", md5_hash60).alias("__hs"))
        .select("id", fingerprint.alias("simhash"))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two fingerprints (popcount of XOR).  Works
    for any width <= 64; with simhash64's 60-bit md5 fingerprints the top
    4 bits are always 0 and never contribute."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def simhash_chunk_candidates(
    fingerprints: DataFrame,
    chunks: int = 4,
    tracker: list | None = None,
) -> DataFrame:
    """The pigeonhole candidate stage of simhash near-dup detection:
    distinct (id_a, id_b, hamming) for every pair sharing >= 1 identical
    ``64 // chunks``-bit chunk.  Exposed separately so candidate VOLUME is
    measurable per chunk width (the scale knob — see EXPERIMENTS.md) and
    so callers can apply their own verify threshold.

    With 60-bit md5 fingerprints and chunks=4, the top 16-bit chunk only
    carries 12 meaningful bits (bits 60-63 are always 0), so its buckets
    collide ~16x more often than the full-width chunks — recall is
    unaffected (pigeonhole still holds), only candidate volume grows.
    chunks=5 gives five 12-bit chunks covering the 60 meaningful bits
    exactly (pigeonhole then holds for Hamming <= 4) but MORE candidates,
    not fewer — measured 2.5-4x (EXPERIMENTS.md §4): chunk count is the
    recall-bound knob; the volume knob is chunk WIDTH."""
    width = 64 // chunks
    mask = (1 << width) - 1
    chunked = fingerprints.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "simhash", "ck.c", "ck.v")
    # Self-join: persist so the fingerprint subtree (explode + 64
    # conditional sums) is computed once, not once per side.  Cache
    # contract as jaccard_pairs (tracker or internal release).
    from bigdatastructure_a5_spark.session import adopt_tracker

    tracker, finish = adopt_tracker(tracker)
    chunked = persist_df(chunked)
    tracker.append(chunked)
    a, b = chunked.alias("a"), chunked.alias("b")
    result = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )
    return finish(result)


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    tracker: list | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming <= max_hamming) via the chunk trick: two prints
    within Hamming d must share an identical chunk when d < chunks
    (pigeonhole) -> candidate join on chunk equality
    (simhash_chunk_candidates — see it for the chunk-width/candidate-volume
    trade-off), verify popcount.

    The pigeonhole guarantee requires ``max_hamming < chunks``: at
    d >= chunks a pair can place one differing bit in every chunk and
    share none, so candidates would silently miss true pairs — enforced
    loudly instead of returning a strict subset."""
    from bigdatastructure_a5_spark.session import adopt_tracker

    if max_hamming >= chunks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({chunks}): the "
            "chunk pigeonhole only guarantees recall below the chunk count "
            "— raise chunks to widen the radius"
        )
    tracker, finish = adopt_tracker(tracker)
    cands = simhash_chunk_candidates(fingerprints, chunks, tracker=tracker)
    return finish(cands.filter(F.col("hamming") <= max_hamming))
