"""Dedup + similarity operator tests (extension scope).

Key properties:
- MinHash+LSH result == exact Jaccard result at threshold 0.8 (banding
  capture probability at 0.8 with 32x4 is 1-1e-7 and verification is exact,
  so any difference is a bug, not noise).
- MinHash signature agreement estimates Jaccard (Broder's theorem).
- SimHash pairs at Hamming <= 3 are true near-duplicates (precision).
- ANN top-k recall vs brute force is measurable and nonzero.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.operators.dedup import (
    jaccard_pairs,
    minhash_signatures,
    near_duplicates_minhash,
    shingle_sets,
    simhash64,
    simhash_near_pairs,
)
from bigdatastructure_a5_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    cosine_pairs,
)


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def shingled(docs):
    return shingle_sets(docs).cache()


@pytest.fixture(scope="module")
def exact_dup_rows(shingled):
    return jaccard_pairs(shingled, threshold=0.8).collect()


def test_minhash_lsh_equals_exact_jaccard(docs, exact_dup_rows):
    exact = {(r.id_a, r.id_b) for r in exact_dup_rows}
    lsh = _pairs(near_duplicates_minhash(docs, threshold=0.8))
    assert len(exact) > 0  # fixtures contain planted duplicates
    assert lsh == exact


def test_minhash_estimates_jaccard(spark, shingled, exact_dup_rows):
    """Signature agreement rate ~ true Jaccard for the planted dup pairs."""
    sigs = minhash_signatures(shingled, 128)
    true = spark.createDataFrame(exact_dup_rows[:10])
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    est = (
        true.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m
                    )
                )
                / F.lit(128.0)
            ).alias("est"),
        )
    )
    for r in est.collect():
        assert abs(r.est - r.jaccard) < 0.15  # 128 hashes -> s.e. ~ 0.035


def test_simhash_semantics_on_synthetic_docs(spark):
    """Deterministic semantics: identical text -> Hamming 0; one word changed
    -> small distance; unrelated text -> larger distance."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark shuffles and parquet files"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )
    fp = {r.id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin(fp[a] ^ fp[b]).count("1")  # noqa: E731
    assert ham(1, 2) == 0
    assert ham(1, 3) < ham(1, 4)
    assert ham(1, 3) <= 16


def test_simhash_catches_planted_duplicates(docs, shingled, exact_dup_rows):
    """Recall on the fixtures: a healthy share of the planted (trigram
    jaccard >= 0.8) duplicates sits within Hamming 3."""
    prints = simhash64(docs, "doc_id", "text")
    found = _pairs(simhash_near_pairs(prints, max_hamming=3, chunks=4))
    planted = {(r.id_a, r.id_b) for r in exact_dup_rows}
    assert len(found & planted) >= len(planted) * 0.4


def test_zero_and_null_vectors_rank_nowhere(spark):
    """Spark 4 runs ANSI mode by default, where an unguarded cosine divide
    aborts the whole job on ONE zero-norm row.  Contract: degenerate
    (zero-norm or NULL) vectors score NULL and rank nowhere — no crash,
    no phantom tail entries in a top-k, no pair output."""
    from bigdatastructure_a5_spark.operators.similarity import (
        brute_force_topk,
        cosine_pairs,
        cosine_pairs_lsh,
        ivf_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
        (3, None),                   # NULL vector
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], k=10).collect()
    assert [r.vec_id for r in got] == [0, 1, 4]  # 2 and 3 rank nowhere

    pair_ids = {
        i
        for r in cosine_pairs(emb, threshold=-1.0).collect()
        for i in (r.id_a, r.id_b)
    }
    assert 2 not in pair_ids and 3 not in pair_ids

    lsh_ids = {
        i
        for r in cosine_pairs_lsh(emb, threshold=-1.0, n_planes=4).collect()
        for i in (r.id_a, r.id_b)
    }
    assert 3 not in lsh_ids  # NULL filtered up front; no ANSI crash

    ivf = ivf_topk(emb.filter("vec_id != 0 and embedding is not null"),
                   [1.0, 0.0, 0.0, 0.0], k=10, n_centroids=3, n_probe=3)
    assert 2 not in [r.vec_id for r in ivf.collect()]


def test_lloyd_centroids_clamp_to_small_corpus(spark):
    """fit_centroids_sample on a corpus smaller than the requested codebook
    returns len(corpus) centroids instead of numpy's replace=False
    ValueError; an empty corpus raises a clear message."""
    import pytest

    from bigdatastructure_a5_spark.operators.similarity import (
        fit_centroids_sample,
    )

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    cent = fit_centroids_sample(emb, n_centroids=16)
    assert cent.shape == (5, 2)

    empty = emb.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        fit_centroids_sample(empty, n_centroids=4)


def test_lloyd_sample_bounded_and_duplicate_invariant(spark, monkeypatch):
    """VERDICT r7 item 3 + ADVICE r7 medium: the codebook sample must never
    collect more than the sample itself (the old binomial-shortfall
    fallback collected the ENTIRE corpus), and exact-duplicate vectors must
    contribute ONE training candidate instead of lumping whole groups
    through the draw (on a 15x-duplicated corpus the old per-row draw
    starved Lloyd to ~sample_rows/15 distinct points).  The distinct-digest
    draw makes the codebook invariant to duplication: fit(C + 14 copies of
    every row) == fit(C)."""
    from bigdatastructure_a5_spark.operators.similarity import (
        fit_centroids_sample,
    )

    base = spark.createDataFrame(
        [(i, [float(i), float(i % 7), float(i // 7), 1.0])
         for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    dup = base.withColumn(
        "copy", F.explode(F.array(*[F.lit(c) for c in range(15)]))
    ).drop("copy")

    counts: list[int] = []
    df_cls = type(base)  # the session's concrete DataFrame class
    orig_collect = df_cls.collect

    def spy(self):
        rows = orig_collect(self)
        counts.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    c_dup = fit_centroids_sample(dup, n_centroids=8, sample_rows=128)
    assert counts, "sample draw must go through collect"
    assert max(counts) <= 128  # never the 6000-row corpus
    monkeypatch.undo()

    c_base = fit_centroids_sample(base, n_centroids=8, sample_rows=128)
    assert (c_dup == c_base).all()
    # and the fit is deterministic across repeated calls on the dup corpus
    assert (fit_centroids_sample(dup, n_centroids=8, sample_rows=128)
            == c_dup).all()


def test_lsh_guards_against_short_signatures(spark, docs):
    """A signature shorter than bands*rows_per_band would hash every doc's
    tail bands to one constant bucket (slice past the end returns []),
    silently degenerating the self-join to all-pairs — both the Python-
    level divisibility check and the runtime length guard must be LOUD."""
    import pytest

    from bigdatastructure_a5_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        near_duplicates_minhash,
        shingle_sets,
    )

    with pytest.raises(ValueError, match="multiple"):
        near_duplicates_minhash(docs, num_hashes=60, bands=32)

    sigs = minhash_signatures(shingle_sets(docs, "doc_id", "text", 3), 64)
    # match on the MESSAGE, not the exception class: a lone failure raises
    # SparkRuntimeException, but when both self-join stages fail in the
    # same AQE batch Spark wraps them in a multiple-failures SparkException
    with pytest.raises(Exception, match="length >= 128"):
        lsh_candidate_pairs(sigs, bands=32, rows_per_band=4).count()


def test_simhash_rejects_radius_at_or_above_chunks(spark, docs):
    """Pigeonhole only guarantees recall for hamming < chunks; asking for
    more must raise instead of silently returning a subset."""
    import pytest

    from bigdatastructure_a5_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    prints = simhash64(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="chunk"):
        simhash_near_pairs(prints, max_hamming=4, chunks=4)


def test_jaccard_df_cap_drops_hot_shingles_keeps_dups(spark):
    """The document-frequency cap removes boilerplate shingles from the
    index (killing their quadratic posting lists) while true near-dup pairs
    survive: two near-identical docs still match on their non-boilerplate
    shingles."""
    boiler = "all rights reserved contact us for more"
    a = "alpha beta gamma delta epsilon zeta eta theta " + boiler
    b = "alpha beta gamma delta epsilon zeta eta iota " + boiler
    rows = [(1, a), (2, b)] + [
        (i, f"doc number {i} unique words here {boiler}") for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_sets(df, "doc_id", "text", 3)
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(sh, threshold=0.1).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(sh, threshold=0.1, df_cap=10).collect()
    }
    # uncapped, the boilerplate (in every doc) pairs unrelated docs
    assert any(p != (1, 2) for p in uncapped)
    # capped (df > 10 shingles dropped), only the true near-dup remains —
    # matched on its distinctive shingles, which the cap never touches
    assert set(capped) == {(1, 2)}
    assert (1, 2) in uncapped


def test_jaccard_posting_join_matches_sizes_join(spark):
    """The uncapped inverted index carries each document's set size
    through the posting join (``max`` of a per-id constant in the pair
    aggregate).  It must give exactly what joining the sizes back on both
    ids gives.  The corpus has a document whose trigrams repeat (set size
    3, not 7), documents under 3 tokens (no shingles, in no pair) and a
    pair at exactly 0.8 (4 shared of 5 distinct trigrams)."""
    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7"),  # 5 trigrams
        (2, "w1 w2 w3 w4 w5 w6"),  # 4 of them: 4 / (5 + 4 - 4) = 0.8
        (3, "a b c a b c a b c"),  # 7 positions, 3 distinct trigrams
        (4, "a b c a b"),  # the same 3: Jaccard 1.0 with doc 3
        (5, "b c a b c x"),  # doc 3's 3 plus one: 3 / 4 = 0.75
        (6, "w1 w2"),  # too short to shingle
        (7, "w1"),
        (8, ""),
    ]
    sh = shingle_sets(spark.createDataFrame(rows, ["doc_id", "text"]))

    def sizes_join(threshold):
        ex = sh.select("id", F.explode("shingles").alias("g"))
        a, b = ex.alias("a"), ex.alias("b")
        inter = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("i"))
        )
        sizes = sh.select("id", F.size("shingles").alias("n"))
        sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
        j = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in inter.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", j.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
            .collect()
        }

    for threshold in (0.0, 0.8):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(sh, threshold=threshold).collect()
        }
        assert got == sizes_join(threshold), threshold
    at_08 = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(sh, 0.8).collect()}
    assert at_08 == {(1, 2): 0.8, (3, 4): 1.0}


def test_ngram_jaccard_row_runs_as_one_lazy_plan(spark, sf_dir):
    """``dedup_ngram_jaccard``'s builder runs no Spark job (nothing is
    persisted or counted eagerly), and the terminal write runs the whole
    pipeline in at most 5 jobs.  With a shingle cache, two size joins and
    an eager count it ran 12 in the builder and 13 in all."""
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    start = sched.numTotalJobs()
    df = REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir)
    built = sched.numTotalJobs()
    df.write.format("noop").mode("overwrite").save()
    assert built - start == 0
    assert sched.numTotalJobs() - start <= 5


def test_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = list(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    )
    exact = [r.vec_id for r in brute_force_topk(emb, qv, k=10).collect()]
    approx = [r.vec_id for r in ann_lsh_topk(emb, qv, k=10, n_planes=4).collect()]
    assert len(approx) > 0
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, (recall, exact, approx)


def _corpus_with_degenerate_rows(spark, sf_dir):
    """The sf0.001 embeddings plus one zero-norm, one NULL and two
    wrong-length rows, and the query vector (vec_id 0)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    dim = len(qv)
    bad = spark.createDataFrame(
        [
            (10_000_001, [0.0] * dim),
            (10_000_002, None),
            (10_000_003, [0.5] * (dim - 1)),
            (10_000_004, [0.5] * (dim + 3)),
        ],
        "vec_id bigint, embedding array<double>",
    )
    return emb.unionByName(bad), qv


def test_topk_renderer_score_equals_cosine_similarity(spark, sf_dir):
    """The one cosine top-k tail (topk_cosine_sql) scores every row
    bit-for-bit like functions.vectors.cosine_similarity, and a row that
    scores NULL there (zero norm, NULL, wrong length) is dropped from the
    top-k, never ranked."""
    from bigdatastructure_a5_spark.functions.vectors import cosine_similarity
    from bigdatastructure_a5_spark.operators.similarity import topk_cosine_sql

    corpus, qv = _corpus_with_degenerate_rows(spark, sf_dir)
    n = corpus.count()
    want = {
        r.vec_id: r.cosine
        for r in corpus.select(
            "vec_id",
            cosine_similarity(
                F.col("embedding"), F.array(*[F.lit(x) for x in qv])
            ).alias("cosine"),
        ).collect()
    }
    rendered = spark.sql(
        topk_cosine_sql("{src}", qv, n, "TRUE"), src=corpus
    ).collect()
    got = {r.vec_id: r.cosine for r in rendered}
    assert {i for i, c in want.items() if c is None} == {
        10_000_001, 10_000_002, 10_000_003, 10_000_004,
    }
    assert got == {i: c for i, c in want.items() if c is not None}
    assert [r.vec_id for r in rendered] == sorted(got, key=lambda i: (-got[i], i))
    # a zero query vector has no direction: NULL against every row
    assert spark.sql(
        topk_cosine_sql("{src}", [0.0] * len(qv), n, "TRUE"), src=corpus
    ).count() == 0


def test_topk_operators_leave_catalog_and_caches_unchanged(spark, sf_dir):
    """The top-k operators and the IVF BLAS scorer register no view that
    outlives the call, also when the rendered SQL raises, and a persisted
    input frame is still cached afterwards."""
    from pyspark.errors import AnalysisException

    from bigdatastructure_a5_spark.operators.similarity import (
        ivf_topk,
        seed_point_centroids,
        with_ivf_cells,
        with_ivf_cells_probed,
    )

    corpus, qv = _corpus_with_degenerate_rows(spark, sf_dir)
    corpus = corpus.filter(F.col("vec_id") != 0).persist()
    corpus.count()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    def views():
        return sorted(t.name for t in spark.catalog.listTables())

    before = views()
    cents = seed_point_centroids(corpus, 16)
    brute = brute_force_topk(corpus, qv, k=10).collect()
    assert len(brute) == 10
    assert ann_lsh_topk(corpus, qv, k=10).count() > 0
    assert ivf_topk(corpus, qv, k=10, centroids=cents, n_probe=4).count() > 0
    assert ivf_topk(
        corpus, qv, k=10, centroids=cents, n_probe=4, assign_method="blas"
    ).count() > 0
    with_ivf_cells(corpus, cents, method="blas").select("ivf_cell").collect()
    with_ivf_cells_probed(corpus, cents, n_probe=2).select("ivf_cell").collect()
    # every centroid degenerate: nothing is probed, nothing is returned
    zero = [(0, [0.0] * len(qv))]
    assert ivf_topk(corpus, qv, k=10, centroids=zero, n_probe=1).count() == 0
    with pytest.raises(AnalysisException):
        brute_force_topk(corpus, qv, k=10, vec_col="no_such_column")
    assert views() == before
    assert cache_mgr.lookupCachedData(corpus._jdf).isDefined()
    corpus.unpersist()


def test_cosine_pairs_symmetric_threshold(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = cosine_pairs(emb, threshold=0.45).collect()
    assert all(r.id_a < r.id_b and r.cosine >= 0.45 for r in rows)
    assert len(rows) > 0


def test_ivf_recall_and_pruning(spark, sf_dir):
    from bigdatastructure_a5_spark.operators.similarity import (
        fit_centroids_sample,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = list(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    )
    exact = [r.vec_id for r in brute_force_topk(emb, qv, k=10).collect()]
    approx = ivf_topk(emb, qv, k=10, n_centroids=16, n_probe=4).collect()
    assert len(approx) == 10
    recall = len(set(exact) & {r.vec_id for r in approx}) / 10
    assert recall >= 0.2, (recall, exact, [r.vec_id for r in approx])
    # the quantizer is deterministic (seeded, sample via limit)
    c1 = fit_centroids_sample(emb, 16)
    c2 = fit_centroids_sample(emb, 16)
    assert (c1 == c2).all()


def test_ann_write_time_cells_enable_partition_pruning(spark, sf_dir, tmp_path):
    """The production ANN shape: IVF cell ids materialized at WRITE time as
    a partition column, so a probe query prunes to n_probe/n_centroids of
    the corpus at the source — PartitionFilters in the scan, no Python, no
    full read.  (The registered queries compute cells on the fly for
    self-containedness; this pins the write-time claim.)"""
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.operators.similarity import (
        seed_point_centroids,
        with_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cents = seed_point_centroids(emb, 16)
    path = str(tmp_path / "emb_celled")
    with_ivf_cells(emb, cents, "embedding", "ivf_cell").write.partitionBy(
        "ivf_cell"
    ).parquet(path)

    celled = spark.read.parquet(path)
    probe = [1, 3, 5, 7]
    probed = celled.filter(F.col("ivf_cell").isin(probe))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan, plan[:1500]
    got_cells = {r.ivf_cell for r in probed.select("ivf_cell").distinct().collect()}
    assert got_cells <= set(probe) and got_cells
    # pruned read returns exactly the probed cells' rows
    full = {r.vec_id for r in celled.filter(F.col("ivf_cell").isin(probe)).collect()}
    assert len(full) == probed.count() > 0


def test_cosine_pairs_lsh_subset_of_exact_with_recall(spark, sf_dir):
    """The subquadratic LSH variant must have perfect precision (every
    emitted pair is exactly verified, so it is a SUBSET of the exact tiled
    result with identical cosines) and useful recall on the fixture's
    planted near-dups."""
    from bigdatastructure_a5_spark.operators.similarity import cosine_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_lsh(emb, threshold=0.45).collect()
    }
    assert set(approx) <= set(exact)
    for p, c in approx.items():
        assert c == exact[p]  # bit-identical exact refine
    assert len(exact) > 0
    recall = len(approx) / len(exact)
    assert recall >= 0.4, (recall, sorted(exact), sorted(approx))


def test_ann_view_share_is_plan_only_and_stable(spark, sf_dir):
    """The session temp view behind sim_ann_lsh/sim_ann_ivf shares the
    ANALYZED plan, not data: repeated builds reuse the view, results are
    identical, and the view is never a cached relation (every run still
    scans parquet)."""
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    for name, prefix in (
        ("sim_ann_lsh", "lsh_bucketed_"),
        ("sim_ann_ivf", "ivf_celled_"),
    ):
        first = REGISTRY[name].builder(spark, sf_dir).collect()
        views = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(prefix)
        ]
        assert views, f"{name} should have registered a {prefix}* temp view"
        # plan share only — the view must NOT pin data in the cache
        for v in views:
            assert not spark.catalog.isCached(v)
        second = REGISTRY[name].builder(spark, sf_dir).collect()
        assert first == second


def test_ann_write_time_lsh_buckets_match_query_and_prune(spark, sf_dir, tmp_path):
    """The LSH twin of the write-time IVF test: bucket columns materialized
    when the corpus is written come back identical off parquet (so probe
    predicates against stored columns return exactly what the on-the-fly
    projection computes), and a single-table bucket used as a partition
    column prunes at the source with PartitionFilters."""
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.operators.similarity import (
        ann_lsh_topk,
        rademacher_signs,
        with_lsh_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = list(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    )
    signs = rademacher_signs(4, 4, len(qv), 42)
    bucketed = with_lsh_buckets(emb, signs, "embedding")
    path = str(tmp_path / "emb_bucketed")
    bucketed.write.partitionBy("bucket_0").parquet(path)
    stored = spark.read.parquet(path)

    # written bucket columns == on-the-fly projection, row for row
    live = {(r.vec_id, r.bucket_0, r.bucket_3) for r in
            bucketed.select("vec_id", "bucket_0", "bucket_3").collect()}
    disk = {(r.vec_id, r.bucket_0, r.bucket_3) for r in
            stored.select("vec_id", "bucket_0", "bucket_3").collect()}
    assert live == disk

    # probing the stored corpus prunes on the partition bucket column
    some_bucket = next(iter(live))[1]
    probed = stored.filter(F.col("bucket_0") == some_bucket)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket_0" in plan, plan[:1500]

    # and the ANN operator over the stored (write-time) columns returns
    # the same top-k as over the computed columns
    a = [(r.vec_id, r.cosine) for r in
         ann_lsh_topk(emb, qv, k=10, n_planes=4, n_tables=4).collect()]
    b = [(r.vec_id, r.cosine) for r in
         ann_lsh_topk(None, qv, k=10, n_planes=4, n_tables=4,
                      bucketed=stored).collect()]
    assert a == b


def test_standalone_call_releases_intermediate_caches(spark, sf_dir, docs):
    """The cache contract (session.adopt_tracker): an operator called
    WITHOUT a tracker must release every intermediate it persisted before
    returning — only its own materialize_release result checkpoint may
    remain.  Guards against the advisor-flagged leak
    class where a tracker-optional operator left a session-lifetime cache
    when the tracker was omitted."""
    from bigdatastructure_a5_spark.operators.similarity import cosine_pairs_lsh

    def persisted() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    # delta-based on purpose: clearCache() here would silently destroy the
    # module-scoped docs/shingled fixture caches for every later test
    # the module fixture's cache() registers its RDD lazily at first
    # execution — force it now or the first operator call below registers
    # it AFTER the baseline snapshot and the delta over-counts by one
    docs.count()
    base = persisted()

    emb = load_table(spark, sf_dir, "embeddings")
    results = [
        near_duplicates_minhash(docs, threshold=0.8),  # no tracker
        jaccard_pairs(shingle_sets(docs), threshold=0.8),  # no tracker
        simhash_near_pairs(simhash64(docs), max_hamming=3),  # no tracker
        cosine_pairs_lsh(emb, threshold=0.95),  # no tracker
    ]
    for r in results:
        r.count()
    # each call may leave AT MOST its own result checkpoint; every
    # persisted intermediate (shingles, banded, chunked, melted) must be
    # gone
    assert persisted() - base <= len(results), (
        f"intermediate caches leaked: {persisted() - base} persisted frames "
        f"above baseline (limit {len(results)})"
    )


def test_materialized_result_has_no_cache_manager_entry(spark):
    """materialize_release returns a local checkpoint, not a persist():
    Spark's CacheManager matches entries by plan, so a cached result would
    be read back by any later call that builds the same plan.  Neither the
    returned frame nor a rebuild of the same plan may find an entry, and
    the tracked intermediates are released."""
    import bigdatastructure_a5_spark.session as S

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    def build():
        return spark.range(100).selectExpr("id", "id * 2 AS v")

    held = spark.range(50).persist()
    held.count()
    tracked = [held]
    result = S.materialize_release(build(), tracked)
    assert tracked == []
    assert not cache_mgr.lookupCachedData(held._jdf).isDefined()
    assert not cache_mgr.lookupCachedData(result._jdf).isDefined()
    assert not cache_mgr.lookupCachedData(build()._jdf).isDefined()
    assert sorted(r.v for r in result.collect()) == list(range(0, 200, 2))


def test_rerun_after_in_place_rewrite_reads_new_data(spark, sf_dir, tmp_path):
    """A materialize_release row re-run in the same session after its
    input file is rewritten in place must answer from the new file.  With
    result caches matched by plan, the second call was served the first
    call's answer."""
    import shutil

    from bigdatastructure_a5_spark.queries.pipeline import dedup_simhash

    def answer(d):
        return sorted(tuple(r) for r in dedup_simhash(spark, str(d)).collect())

    work, fresh = tmp_path / "work", tmp_path / "fresh"
    work.mkdir()
    fresh.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", work / "documents.parquet")
    first = answer(work)

    for d in (work, fresh):
        shutil.copy("/root/testdata/sf0.01/documents.parquet", d)
    expected = answer(fresh)
    assert expected != first  # the rewrite changes the answer
    assert answer(work) == expected


def test_ann_view_refreshes_after_fixture_rewrite(spark, sf_dir, tmp_path):
    """The ANN session temp view must not serve a stale file index after
    the fixture is regenerated mid-session: the view key carries
    catalog.table_fingerprint (file size + mtime), so a rewrite yields a
    fresh view instead of a FileReadException / silently-stale corpus."""
    import shutil
    import time

    from bigdatastructure_a5_spark.queries.pipeline import sim_ann_lsh

    work = tmp_path / "sfwork"
    work.mkdir()
    for t in ("embeddings",):
        shutil.copy(f"{sf_dir}/{t}.parquet", work / f"{t}.parquet")

    first = {r.vec_id for r in sim_ann_lsh(spark, str(work)).collect()}
    assert len(first) == 10

    # regenerate: drop half the corpus (keep vec 0, the query) and rewrite
    import pyarrow.parquet as pq

    tab = pq.read_table(work / "embeddings.parquet")
    keep = [i for i, v in enumerate(tab.column("vec_id").to_pylist())
            if v == 0 or v % 2 == 1]
    time.sleep(0.01)  # ensure a distinct mtime_ns
    pq.write_table(tab.take(keep), work / "embeddings.parquet")

    second = {r.vec_id for r in sim_ann_lsh(spark, str(work)).collect()}
    assert len(second) == 10
    assert all(v % 2 == 1 for v in second), (
        "stale view: result contains vec_ids removed by the rewrite"
    )
    # and the superseded view was DROPPED, not left pinning deleted file
    # stats: exactly one lsh_bucketed view remains for this fixture dir
    import hashlib
    import os

    scope = os.path.realpath(str(work))
    base = f"lsh_bucketed_{hashlib.md5(scope.encode()).hexdigest()[:8]}_"
    mine = [t.name for t in spark.catalog.listTables()
            if t.name.startswith(base)]
    assert len(mine) == 1, mine


def test_simhash_chunk_width_invariance(spark, docs):
    """Pigeonhole completeness is chunk-width independent below the bound:
    for max_hamming <= 3 both chunks=4 (d < 4) and chunks=5 (d < 5) must
    return EXACTLY the same verified pairs — the candidate sets differ
    (see EXPERIMENTS.md's volume sweep), the results cannot."""
    from bigdatastructure_a5_spark.operators.dedup import (
        simhash64,
        simhash_chunk_candidates,
        simhash_near_pairs,
    )

    prints = simhash64(docs, "doc_id", "text")
    p4 = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(prints, max_hamming=3, chunks=4).collect()
    }
    p5 = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(prints, max_hamming=3, chunks=5).collect()
    }
    assert p4 == p5 and len(p4) > 0
    # and the verified pairs are a subset of either candidate set
    c5 = {
        (r.id_a, r.id_b)
        for r in simhash_chunk_candidates(prints, chunks=5).collect()
    }
    assert {(a, b) for a, b, _ in p4} <= c5


def test_auto_planes_rule_and_x10_candidate_bound(spark, sf_dir):
    """The SRP planes~log2(n) co-sizing rule is CODE now, not prose
    (VERDICT r4 item 5): auto_planes applies max(4, ceil(log2 n) - 5), and
    on a 10x corpus the auto-sized bucket space keeps candidates/vec in
    the same regime as the 1x fixture, where pinning planes=4 measurably
    saturates the 16-bucket tables toward an all-pairs self-join."""
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.operators.similarity import (
        auto_planes,
        rademacher_signs,
        with_lsh_buckets,
    )

    # the rule itself: fixture scale resolves to the legacy 4; growth is
    # logarithmic and monotonic
    assert auto_planes(500) == 4
    assert auto_planes(5_000) == 8
    assert auto_planes(50_000) == 11
    assert auto_planes(1_000_000_000) == 25
    assert auto_planes(1) == 4  # degenerate corpora keep the floor

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    # x10 corpus: each copy rotates the embedding array by c positions
    # (norm-preserving, direction-spreading) with disjoint id ranges
    copies = [
        emb.select(
            (F.col("vec_id") + c * 100_000).alias("vec_id"),
            F.concat(
                F.slice("embedding", c + 1, dim - c),
                F.slice("embedding", 1, c),
            ).alias("embedding"),
        )
        for c in range(10)
    ]
    big = copies[0]
    for df in copies[1:]:
        big = big.unionByName(df)
    big = big.repartition(8).persist()
    n = big.count()
    assert n == 10 * emb.count()

    def candidates_per_vec(frame, n_rows, n_planes, n_tables=8):
        signs = rademacher_signs(n_tables, n_planes, dim, 42)
        melted = (
            with_lsh_buckets(frame, signs)
            .select(
                F.col("vec_id").cast("long").alias("id"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("t"),
                                F.col(f"bucket_{t}").alias("b"),
                            )
                            for t in range(n_tables)
                        ]
                    )
                ).alias("tb"),
            )
            .select("id", "tb.t", "tb.b")
        )
        a, b = melted.alias("a"), melted.alias("b")
        c = (
            a.join(
                b,
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.b") == F.col("b.b"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select("a.id", "b.id")
            .distinct()
            .count()
        )
        return c / n_rows

    base_rate = candidates_per_vec(emb, emb.count(), auto_planes(emb.count()))
    pinned_rate = candidates_per_vec(big, n, 4)  # yesterday's fixed default
    auto_rate = candidates_per_vec(big, n, auto_planes(n))
    big.unpersist(blocking=False)

    # pinned-4 at 10x saturates: markedly more candidates per vector than
    # the auto-sized bucket space on the SAME corpus...
    assert auto_rate < pinned_rate / 2, (base_rate, pinned_rate, auto_rate)
    # ...and auto stays in the 1x regime (bounded, not growing with n)
    assert auto_rate <= base_rate * 4, (base_rate, auto_rate)


def test_auto_cells_probe_rule_and_default_resolution(spark, sf_dir):
    """The IVF codebook~sqrt(n) co-sizing rule is CODE now, not a fixed
    16-cell default (VERDICT r6 item 1): auto_cells = max(16, round
    sqrt(n)), auto_probe = max(4, ceil sqrt(cells)), and ivf_topk with
    the defaults omitted resolves to exactly those values (equal to an
    explicit call) while the gate query keeps its pinned (16, 4)."""
    from bigdatastructure_a5_spark.operators.similarity import (
        auto_cells,
        auto_probe,
        ivf_topk,
    )

    # the rules: gate-ish floors, sqrt growth, n^(1/4) probe growth
    assert auto_cells(1) == 16
    assert auto_cells(256) == 16
    assert auto_cells(500) == 22
    assert auto_cells(20_000) == 141
    assert auto_cells(500_000) == 707
    assert auto_probe(16) == 4
    assert auto_probe(141) == 12
    assert auto_probe(707) == 27
    # probed exact-scoring is sub-linear under the composed rule:
    # n_probe * n / cells ~ n^(3/4)
    for n in (10_000, 1_000_000, 100_000_000):
        scored = auto_probe(auto_cells(n)) * n / auto_cells(n)
        assert scored <= 1.05 * n**0.75

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    auto = ivf_topk(emb, qv, k=5, centroid_mode="seed_points")
    explicit = ivf_topk(
        emb,
        qv,
        k=5,
        n_centroids=auto_cells(n),
        n_probe=auto_probe(auto_cells(n)),
        centroid_mode="seed_points",
    )
    assert [tuple(r) for r in auto.collect()] == [
        tuple(r) for r in explicit.collect()
    ]


def test_ivf_blas_assignment_matches_sql(spark, sf_dir):
    """The Arrow/BLAS cell assignment — auto-selected above
    IVF_SQL_MAX_CELLS, where the rendered-SQL argmax leaves the codegen
    budget (and at sqrt(1e9) cells would not parse at all) — must agree
    with the bit-exact SQL path cell-for-cell on a real corpus and a
    corpus-sized Lloyd codebook.  Both paths are deterministic; argmax
    could only differ where two cells tie within float-summation noise,
    which this pins as not happening on the fixture."""
    from bigdatastructure_a5_spark.operators.similarity import (
        IVF_SQL_MAX_CELLS,
        fit_centroids_sample,
        with_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_cells = 45  # > IVF_SQL_MAX_CELLS: the regime the blas path exists for
    assert n_cells > IVF_SQL_MAX_CELLS
    mat = fit_centroids_sample(emb, n_cells)
    cents = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]

    sql_cells = {
        r.vec_id: r.c
        for r in with_ivf_cells(emb, cents, "embedding", "c", method="sql")
        .select("vec_id", "c")
        .collect()
    }
    blas_cells = {
        r.vec_id: r.c
        for r in with_ivf_cells(emb, cents, "embedding", "c", method="blas")
        .select("vec_id", "c")
        .collect()
    }
    assert sql_cells == blas_cells
    assert len(set(sql_cells.values())) > 1  # a real partition of the corpus

    # auto routing: <= threshold keeps the zero-Python rendered-SQL plan,
    # above it takes the Arrow stage
    small = with_ivf_cells(
        emb, cents[:IVF_SQL_MAX_CELLS], "embedding", "c", method="auto"
    )
    big = with_ivf_cells(emb, cents, "embedding", "c", method="auto")
    assert "Python" not in small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()


def test_ivf_topk_prebuilt_celled_matches_inline(spark, sf_dir):
    """ivf_topk(celled=...) — the amortized serving shape over a corpus
    whose cell assignment was built once at write time — must return
    exactly what the inline-assignment path returns for the same codebook
    and probes."""
    from bigdatastructure_a5_spark.operators.similarity import (
        fit_centroids_sample,
        ivf_topk,
        with_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    mat = fit_centroids_sample(emb, 45)
    cents = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    celled = with_ivf_cells(emb, cents, "embedding", "__cell").persist()
    try:
        prebuilt = ivf_topk(
            emb, qv, k=10, centroids=cents, n_probe=7, celled=celled
        ).collect()
        inline = ivf_topk(emb, qv, k=10, centroids=cents, n_probe=7).collect()
        assert [tuple(r) for r in prebuilt] == [tuple(r) for r in inline]
        assert len(prebuilt) == 10
    finally:
        celled.unpersist()
    with pytest.raises(ValueError, match="requires the matching centroids"):
        ivf_topk(emb, qv, k=10, n_centroids=16, celled=celled)


def test_capped_jaccard_matches_capped_oracle_x30(spark):
    """VERDICT r6 item 2: the recommended 100 TB configuration
    (jaccard_pairs(df_cap=64)) must be ANSWER-verified, not just
    plumbing-tested.  At x30 of sf0.01 the cap removes thousands of
    hot shingles (every doc is a 30-way exact duplicate, so base
    df >= 3 shingles trip a 64 cap), and the Spark result must
    hash-match the DuckDB twin carrying the identical df > cap
    exclusion — index, intersection counts, and set sizes alike."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.operators.dedup import (
        jaccard_pairs,
        shingle_sets,
    )
    from bigdatastructure_a5_spark.queries.pipeline import (
        capped_jaccard_oracle_sql,
    )
    from bigdatastructure_a5_spark.session import materialize_release

    sf = ensure_x10("/root/testdata/sf0.01", copies=30)
    docs = load_table(spark, sf, "documents")
    tracked: list = []
    got = materialize_release(
        jaccard_pairs(
            shingle_sets(docs, "doc_id", "text", 3),
            threshold=0.8,
            tracker=tracked,
            df_cap=64,
        ),
        tracked,
    )
    s_rows = sorted(
        (int(r["id_a"]), int(r["id_b"]), repr(float(r["jaccard"])))
        for r in got.collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    # the configuration must actually bite at this scale, or the match
    # proves nothing about the capped path
    n_hot = con.sql(
        capped_jaccard_oracle_sql(64).split(", ex0")[0]
        + ", ex0 AS (SELECT doc_id, UNNEST(s) AS g FROM sh) "
        "SELECT COUNT(*) FROM (SELECT g FROM ex0 GROUP BY g "
        "HAVING COUNT(*) > 64)"
    ).fetchone()[0]
    assert n_hot > 100, f"cap removes only {n_hot} shingles — not biting"
    d_rows = sorted(
        (int(a), int(b), repr(float(j)))
        for a, b, j in con.sql(capped_jaccard_oracle_sql(64)).fetchall()
    )
    assert len(s_rows) > 0
    assert s_rows == d_rows


def test_semantic_dedup_within_cells(spark, sf_dir):
    """SemDeDup composition over the real embeddings: IVF cells ->
    within-cell exact cosine pairs -> cluster dedup.  Pins (a) strict
    subset of the all-pairs answer with bit-identical cosine values,
    (b) high pair recall at the dedup-grade threshold (tight duplicates
    co-locate in the nearest-centroid cell), (c) one representative per
    cluster survives."""
    from bigdatastructure_a5_spark.operators.components import cluster_dedup
    from bigdatastructure_a5_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_in_cells,
        fit_centroids_sample,
        with_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        (i, c.tolist())
        for i, c in enumerate(
            fit_centroids_sample(emb, n_centroids=8, sample_rows=256)
        )
    ]
    celled = with_ivf_cells(emb, cents)

    tracked: list = []
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_in_cells(
            celled, threshold=0.45, tracker=tracked
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs(emb, threshold=0.45, tracker=tracked).collect()
    }
    assert want, "fixture should contain near-dup embeddings"
    # (a) subset with identical exact values (the fixture's 0.45 pairs
    # are LOOSE relations, so no recall claim here — that leg runs on a
    # corpus with planted tight duplicates below)
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

    # (b) recall on TIGHT duplicates (the SemDeDup regime): plant
    # near-copies (1% noise, cosine ~0.9995) of random base vectors —
    # a tight pair's two members share a nearest centroid essentially
    # always, so within-cell recall at 0.99 must be ~total
    import random

    rng = random.Random(7)
    base = [
        [rng.gauss(0, 1) for _ in range(16)] for _ in range(40)
    ]
    rows = [(i, v) for i, v in enumerate(base)] + [
        (100 + i, [x + rng.gauss(0, 0.01) for x in v])
        for i, v in enumerate(base[:15])  # 15 planted tight pairs
    ]
    planted = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    pc = [
        (i, c.tolist())
        for i, c in enumerate(
            fit_centroids_sample(planted, n_centroids=6, sample_rows=128)
        )
    ]
    got_t = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_in_cells(
            with_ivf_cells(planted, pc), threshold=0.99, tracker=tracked
        ).collect()
    }
    want_t = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(
            planted, threshold=0.99, tracker=tracked
        ).collect()
    }
    assert len(want_t) >= 15
    recall = len(got_t & want_t) / len(want_t)
    assert recall >= 0.9, f"tight-pair within-cell recall {recall:.0%}"

    # (c) cluster dedup over the semantic pairs keeps one rep per cluster
    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in got_t], "id_a bigint, id_b bigint"
    )
    docs = planted.select(F.col("vec_id").alias("doc_id"))
    kept = cluster_dedup(docs, pairs_df, tracker=tracked)
    n_docs, n_kept = docs.count(), kept.count()
    clustered = {x for pr in got_t for x in pr}
    for df in tracked:
        df.unpersist()
    assert n_kept < n_docs
    assert n_kept >= n_docs - len(clustered) + 1


def test_multi_probe_cells_raise_within_cell_recall(spark, sf_dir):
    """The recall dial: n_probe nearest cells per vector — probe 1
    reproduces the single-cell assignment exactly, and higher probes
    strictly grow the (still exact-subset) pair set toward the all-pairs
    answer on the loose-pair corpus where single cells split them."""
    from bigdatastructure_a5_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_in_cells,
        fit_centroids_sample,
        with_ivf_cells,
        with_ivf_cells_probed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        (i, c.tolist())
        for i, c in enumerate(
            fit_centroids_sample(emb, n_centroids=8, sample_rows=256)
        )
    ]
    tracked: list = []
    want = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(emb, threshold=0.45, tracker=tracked).collect()
    }

    def pairs(celled):
        return {
            (r.id_a, r.id_b)
            for r in cosine_pairs_in_cells(
                celled, threshold=0.45, tracker=tracked
            ).collect()
        }

    # probe 1 == the single-cell BLAS assignment
    single = pairs(with_ivf_cells(emb, cents, method="blas"))
    p1 = pairs(with_ivf_cells_probed(emb, cents, n_probe=1))
    assert p1 == single
    p3 = pairs(with_ivf_cells_probed(emb, cents, n_probe=3))
    p8 = pairs(with_ivf_cells_probed(emb, cents, n_probe=8))
    for df in tracked:
        df.unpersist()
    # monotone recall, all exact subsets; full probe == all pairs
    assert p1 <= p3 <= p8 <= want
    assert len(p3) > len(p1)
    assert p8 == want  # probing every one of the 8 cells is exhaustive


def test_probed_cells_drop_malformed_vectors(spark, sf_dir):
    """ADVICE r10: NULL / wrong-dimension vectors must get NO probed
    cells (no row after the explode) — zero-filling them
    would pile every malformed vector into the smallest cell ids
    (inflating those cells' O(members^2) work) and a wrong-length
    vector reaching the cell scorer crashes its np.stack.  The pair
    set over a corrupted corpus must equal the clean corpus's."""
    from bigdatastructure_a5_spark.operators.similarity import (
        cosine_pairs_in_cells,
        fit_centroids_sample,
        with_ivf_cells,
        with_ivf_cells_probed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents = [
        (i, c.tolist())
        for i, c in enumerate(
            fit_centroids_sample(emb, n_centroids=4, sample_rows=256)
        )
    ]
    bad = spark.createDataFrame(
        [
            (10_000_001, None),
            (10_000_002, [0.5] * (dim - 1)),  # wrong dimension
            (10_000_003, [0.5] * (dim + 3)),
        ],
        f"vec_id bigint, embedding array<double>",
    )
    corrupted = emb.select("vec_id", "embedding").unionByName(bad)

    celled_bad = with_ivf_cells_probed(corrupted, cents, n_probe=2)
    # malformed ids were assigned no cell at all
    assert (
        celled_bad.filter(F.col("vec_id") >= 10_000_000).count() == 0
    )
    # the single-cell form over the same scorer keeps every input row,
    # each with a cell
    cells = with_ivf_cells(corrupted, cents, method="blas").select("ivf_cell")
    got_cells = [r.ivf_cell for r in cells.collect()]
    assert len(got_cells) == corrupted.count()
    assert None not in got_cells
    tracked: list = []
    got = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_in_cells(
            celled_bad, threshold=0.45, tracker=tracked
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_in_cells(
            with_ivf_cells_probed(emb, cents, n_probe=2),
            threshold=0.45,
            tracker=tracked,
        ).collect()
    }
    for df in tracked:
        df.unpersist()
    assert got == want and len(got) > 0


def test_lsh_precomputed_band_keys_match(spark, docs):
    """lsh_candidate_pairs(banded_keys=...) — the r14 reuse hook for
    callers that already materialized the band-key frame (streaming
    process_batch joins/appends the same keys) — must emit exactly the
    pairs of the self-derived path."""
    from bigdatastructure_a5_spark.operators.dedup import (
        band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    sigs = minhash_signatures(shingle_sets(docs, "doc_id", "text", 3), 64)
    own = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)
    keys = band_keys(sigs, 16, 4).persist()
    try:
        pre = lsh_candidate_pairs(
            sigs, bands=16, rows_per_band=4, banded_keys=keys
        )
        a = {(r.id_a, r.id_b) for r in own.collect()}
        b = {(r.id_a, r.id_b) for r in pre.collect()}
        assert a == b and a
    finally:
        keys.unpersist()
