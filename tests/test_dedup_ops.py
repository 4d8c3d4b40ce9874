"""Dedup operator semantics on hand-built micro-tables (cross-engine value
parity is covered separately by tools/selfcheck.py's DuckDB oracles)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_spark.operators import ann, dedup
from distributed_web_scrapper_and_crawler_spark.operators.spread import spread_small_scan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keep_first(spark):
    df = _docs(spark, [(1, "same text"), (5, "same text"), (3, "same text"), (2, "other")])
    survivors = sorted(r["doc_id"] for r in dedup.exact_dedup_keep_first(df, "doc_id", "text").collect())
    assert survivors == [1, 2]
    stats = dedup.exact_dup_stats(df, "doc_id", "text").collect()[0]
    assert (stats["n_docs"], stats["n_unique"], stats["n_dup_docs"]) == (4, 2, 2)


def test_jaccard_identical_and_disjoint(spark):
    df = _docs(spark, [(1, "abcdefghijkl"), (2, "abcdefghijkl"), (3, "zzzzyyyyxxxxw")])
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=8, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) not in pairs and (2, 3) not in pairs  # no shared shingles


def test_minhash_identical_docs_share_all_signatures(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different words here")])
    mh = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8)
    sigs = {(r["id"], r["h"]): r["minhash"] for r in mh.collect()}
    assert all(sigs[(1, h)] == sigs[(2, h)] for h in range(8))
    # LSH must surface the identical pair
    cands = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(mh).collect()}
    assert (1, 2) in cands


def test_simhash_identical_equal_and_bits_bounded(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta eta")])
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(df, "doc_id", "text", bits=16).collect()}
    assert sh[1] == sh[2]
    assert all(0 <= v < (1 << 16) for v in sh.values())


def test_cosine_topk_exact_neighbors(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = ann.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in res.orderBy("rank").collect()]
    assert got == [(3, 1), (1, 2)]  # 3 is closest to 0, then 1


def test_lsh_band_signature_injective_at_r4(spark):
    """rows_per_band=4: two docs whose band hash VECTORS differ but whose
    (sum, min, max) aggregates collide must NOT become candidates — the
    exact collision the retired order-insensitive signature produced."""
    # same sum (120), min (10), max (50); different vectors
    mh = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 30), (1, 2, 30), (1, 3, 50),
         (2, 0, 10), (2, 1, 20), (2, 2, 40), (2, 3, 50)],
        "id long, h int, minhash long",
    )
    cands = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(mh, bands=1, rows_per_band=4).collect()}
    assert (1, 2) not in cands
    # identical vectors still collide (sanity)
    mh2 = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 30), (2, 0, 10), (2, 1, 30)], "id long, h int, minhash long"
    )
    assert {(1, 2)} == {
        (r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(mh2, bands=1, rows_per_band=2).collect()
    }


def test_lsh_long_input_h_out_of_range_raises(spark):
    """A long minhash row with h outside 0..bands*rows_per_band-1 must fail
    the query, not be silently dropped by the pivot."""
    import pytest

    mh = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 30), (2, 0, 10), (2, 1, 30), (2, 2, 99)],
        "id long, h int, minhash long",
    )
    with pytest.raises(Exception, match="minhash h must be in 0..1"):
        dedup.lsh_candidate_pairs(mh, bands=1, rows_per_band=2).collect()
    negative = spark.createDataFrame([(1, -1, 10)], "id long, h int, minhash long")
    with pytest.raises(Exception, match="minhash h must be in"):
        dedup.lsh_candidate_pairs(negative, bands=1, rows_per_band=2).collect()


def test_ivf_centroid_cap_raises(spark):
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="centroids"):
        ann.ivf_topk(emb, q, k=2, centroid_stride=1, max_centroids=8)
    # a sane stride still works
    res = ann.ivf_topk(emb, q, k=2, centroid_stride=8, max_centroids=8)
    assert res.count() > 0


def test_kmeans_refine_and_trained_ivf(spark):
    """Lloyd refinement: centroids move to member means, empty clusters
    keep the old centroid, and the trained codebook plugs into ivf_topk
    via the centroids parameter."""
    rows = (
        # two tight clusters around (1,0) and (0,1); ids 0 and 64 are the
        # stride-64 init centroids
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.95, 0.05])]
        + [(64, [0.0, 1.0]), (65, [0.1, 0.9]), (66, [0.05, 0.95])]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ann.kmeans_refine(emb, centroid_stride=64, iters=1, round_to=6)
    got = dict(cents)
    import numpy as np

    np.testing.assert_allclose(got[0], np.mean([[1, 0], [0.9, 0.1], [0.95, 0.05]], axis=0), atol=1e-5)
    np.testing.assert_allclose(got[64], np.mean([[0, 1], [0.1, 0.9], [0.05, 0.95]], axis=0), atol=1e-5)
    # trained centroids drive ivf_topk
    cdf = spark.createDataFrame([(c, v) for c, v in cents], "cid long, cv array<double>")
    res = ann.ivf_topk(emb, emb.filter(F.col("vec_id") == 1), k=2, n_probe=1, centroids=cdf)
    assert {r["neighbor_id"] for r in res.collect()} <= {0, 2, 64, 65, 66}
    assert res.count() == 2
    # empty cluster: a far-away init centroid that captures no member
    # (duplicate of cid 0 at id 128 loses every tie to the lower cid)
    rows2 = rows + [(128, [1.0, 0.0])]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    cents2 = dict(ann.kmeans_refine(emb2, centroid_stride=64, iters=1, round_to=6))
    assert cents2[128] == [1.0, 0.0]  # kept its previous centroid


def test_lsh_ann_subset_of_bruteforce_universe(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)
    approx = ann.lsh_ann_topk(emb, q, k=3, n_planes=2)
    rowsa = approx.collect()
    assert len(rowsa) > 0
    # every returned neighbor shares the query's bucket by construction;
    # scores must match the exact cosine for those pairs
    exact = {(r["q_id"], r["neighbor_id"]): r["score"] for r in ann.cosine_topk(emb, q, k=49).collect()}
    for r in rowsa:
        assert abs(exact[(r["q_id"], r["neighbor_id"])] - r["score"]) < 1e-9


def test_multiprobe_improves_recall_and_supersets_single_probe(spark):
    """n_probe > 1 probes the query's bucket plus its lowest-margin
    single-bit flips: the candidate universe strictly contains the
    single-probe one, so top-k recall vs the exact brute force can only
    rise. On random gaussians at 16 planes single-probe recall is far
    from 1, leaving measurable headroom."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = ann.cosine_topk(emb, q, k=3).collect()
    want = {(r["q_id"], r["neighbor_id"]) for r in exact}

    def recall(n_probe):
        got = ann.lsh_ann_topk(emb, q, k=3, n_planes=16, n_probe=n_probe).collect()
        pairs = {(r["q_id"], r["neighbor_id"]) for r in got}
        return len(pairs & want) / len(want), pairs

    r1, p1 = recall(1)
    r4, p4 = recall(4)
    assert r4 >= r1
    assert r4 > 0.0
    # at 16 planes over 300 random vectors, 3 extra probed buckets must
    # surface at least one neighbor the single probe missed
    assert len(p4) > len(p1)


def test_adaptive_n_planes_derivation(spark):
    from distributed_web_scrapper_and_crawler_spark.operators.ann import adaptive_n_planes

    # below target occupancy: floor at min_planes (sf0.1 defaults must not move)
    assert adaptive_n_planes(1_000, target_bucket_size=1024, min_planes=8) == 8
    assert adaptive_n_planes(500_000, target_bucket_size=1024, min_planes=8) == 9
    # the 10^10 design point from the docstring
    assert adaptive_n_planes(10_000_000_000, target_bucket_size=1024, min_planes=8) == 24
    # occupancy bound holds wherever the max_planes clamp doesn't bite
    for n in (10**4, 10**6, 10**9):
        p = adaptive_n_planes(n, target_bucket_size=512, min_planes=4)
        assert n / (1 << p) <= 512
    import pytest

    with pytest.raises(ValueError):
        adaptive_n_planes(0)
    # the hint can only RAISE the explicit plane count
    got = ann.lsh_ann_topk(
        spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.9, 0.1])], "vec_id long, embedding array<float>"),
        spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>"),
        k=1,
        n_planes=2,
        corpus_count=10,
    )
    assert got.count() <= 1  # derivation path executes end-to-end


def test_adaptive_n_planes_default_on_public_api(spark):
    """VERDICT r5 #6: adaptive plane derivation is the DEFAULT on the LSH
    entry points — a 10^10-count hint must yield 24 planes through the
    public API with no explicit n_planes; no hint at all must derive from
    emb.count(); an explicit n_planes with no hint must pin verbatim
    (zero extra jobs — the static-oracle path)."""
    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(12)], "vec_id long, embedding array<float>"
    )
    q = emb.filter(F.col("vec_id") < 2)

    # 10^10 hint → 24 planes, automatically (the occupancy guard)
    assert ann.lsh_near_dup_pairs(emb, corpus_count=10_000_000_000)._lsh_n_planes == 24
    assert ann.lsh_ann_topk(emb, q, corpus_count=10_000_000_000)._lsh_n_planes == 24
    # no hint → one count() job, floors at the historical defaults (8 / 4)
    assert ann.lsh_near_dup_pairs(emb)._lsh_n_planes == 8
    assert ann.lsh_ann_topk(emb, q)._lsh_n_planes == 4
    # explicit n_planes, no hint → pinned verbatim (static SQL oracles)
    assert ann.lsh_near_dup_pairs(emb, n_planes=8)._lsh_n_planes == 8
    assert ann.lsh_ann_topk(emb, q, n_planes=16, n_probe=2)._lsh_n_planes == 16
    # explicit + hint keeps the historical floor semantics
    assert ann.lsh_near_dup_pairs(emb, n_planes=8, corpus_count=10**10)._lsh_n_planes == 24
    # default-on derivation still produces a correct runnable plan
    assert ann.lsh_near_dup_pairs(emb, threshold=0.5).count() >= 0


def test_search_ranked_empty_query_returns_empty(spark):
    """ADVICE r3: an empty/whitespace query must yield an empty result,
    not a TypeError from .filter(int)."""
    from distributed_web_scrapper_and_crawler_spark.analytics.queries import (
        _search_ranked_sql,
        search_documents_ranked,
    )

    res = search_documents_ranked(spark, "/root/testdata/sf0.001", "   ")
    assert res.columns == ["doc_id", "score"]
    assert res.count() == 0
    assert "LIMIT 0" in _search_ranked_sql([])


def test_codegen_shingling_matches_char_ngrams(spark):
    """The round-5 explode(sequence)+substr shingling must emit exactly the
    rows explode(char_ngrams) emits — including the short-string (< n) and
    exactly-n edge cases and multi-byte text (substr is char-based)."""
    from distributed_web_scrapper_and_crawler_spark.functions.text import char_ngrams

    df = _docs(
        spark,
        [(1, "abcdefghij"), (2, "short"), (3, "exactly8"), (4, "héllo wörld ünïcode"), (5, "x")],
    )
    old = df.select(
        F.col("doc_id").alias("id"), F.explode(char_ngrams("text", 8)).alias("shingle")
    )
    new = dedup._char_ngrams_rows(df, "doc_id", "text", 8)
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_minhash_multiset_invariance(spark):
    """minhash dropped the shingle distinct in round 5: min over a multiset
    equals min over the set. Pin that with heavily self-repeating text vs
    its distinct-shingle reference computation."""
    from distributed_web_scrapper_and_crawler_spark.functions.text import md5_long

    df = _docs(spark, [(1, "abcabcabcabcabcabcabcabc"), (2, "xyxyxyxyxyxyxyxyxyxyxyxy")])
    mh = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8)
    ref = (
        dedup.shingle_table(df, "doc_id", "text", 8, local_distinct=False)
        .select("id", "shingle", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("h"))
        .withColumn("hv", md5_long(F.concat_ws("#", F.col("h").cast("string"), F.col("shingle"))))
        .groupBy("id", "h")
        .agg(F.min("hv").alias("minhash"))
    )
    assert sorted(map(tuple, mh.collect())) == sorted(map(tuple, ref.collect()))


def test_spread_small_scan_guard(spark):
    """Single-partition inputs are repartitioned to defaultParallelism;
    already-parallel inputs pass through without an added exchange."""
    tiny = spark.range(100).coalesce(1).withColumn("text", F.lit("abcdefghijkl"))
    spread = spread_small_scan(tiny)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism + 3)
    assert spread_small_scan(wide) is wide


def test_minhash_vocab_path_equals_inline_path(spark):
    """Round-7: the vocabulary-adaptive minhash (hash each distinct
    shingle once, broadcast back) must be value-identical to the inline
    seed-explode path — force each shape via vocab_cap and compare."""
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (7, "completely different text with its own shingles"),
            (9, "zz"),  # shorter than the gram => single short shingle
            (11, None),  # NULL text shingles as '' on both paths
        ],
    )
    via_vocab = dedup.minhash_table(
        df, "doc_id", "text", n_hashes=8, ngram=8, vocab_cap=10_000, vocab_min_bytes=0
    )
    inline = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8, vocab_cap=None)
    assert sorted(map(tuple, via_vocab.collect())) == sorted(map(tuple, inline.collect()))
    # the NULL doc keeps all 8 signatures: md5 of "{h}#", the DuckDB
    # oracle's concat(h, '#', shingle) with an empty shingle
    null_sigs = {r["h"]: r["minhash"] for r in inline.filter("id = 11").collect()}
    empty = _docs(spark, [(11, "")])
    want = dedup.minhash_table(empty, "doc_id", "text", n_hashes=8, ngram=8, vocab_cap=None)
    assert null_sigs == {r["h"]: r["minhash"] for r in want.collect()}
    # a cap below the true vocabulary falls back to the inline path
    fallback = dedup.minhash_table(
        df, "doc_id", "text", n_hashes=8, ngram=8, vocab_cap=3, vocab_min_bytes=0
    )
    assert sorted(map(tuple, fallback.collect())) == sorted(map(tuple, inline.collect()))
    # below the size gate the probe is skipped entirely (inline shape)
    gated = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8)
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, inline.collect()))


def test_lsh_band_union_matches_distinct_reference(spark):
    """Round-7: the per-band first-match union must emit exactly the
    distinct (a < b) pairs sharing >= 1 band signature — compare against
    a direct banded-signature reference on a near-dup-heavy table."""
    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaa"),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaa"),  # identical to 1: all bands match
        (3, "aaaaaaaaaaaaaaaaaaaaaaab"),  # near-dup of 1/2
        (4, "qqqqqqqqwwwwwwwweeeeeeee"),
        (5, "qqqqqqqqwwwwwwwweeeeeeee"),  # identical to 4
        (6, "totally unrelated content"),
    ]
    df = _docs(spark, rows)
    mh = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8)
    got = sorted((r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(mh, 4, 2).collect())
    assert len(got) == len(set(got)), "pairs must be distinct by construction"
    sigs = {}
    for r in mh.collect():
        sigs.setdefault(r["id"], {})[r["h"]] = r["minhash"]
    ref = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            for band in range(4):
                if all(sigs[a][band * 2 + j] == sigs[b][band * 2 + j] for j in range(2)):
                    ref.add((a, b))
                    break
    assert got == sorted(ref)
    assert (1, 2) in ref and (4, 5) in ref


def test_ngram_sizes_join_flips_to_shuffle_at_scale_hint(spark):
    """VERDICT r6 wrong #2: the per-doc sizes lookup must stop being an
    unconditional broadcast — a 10^10 corpus_count hint flips it to a
    shuffle_hash join, output unchanged."""
    df = _docs(spark, [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnoq"), (3, "zzzzyyyyxxxxwwww")])
    base = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=8, threshold=0.0)
    hinted = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=8, threshold=0.0, corpus_count=10**10
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, hinted.collect()))
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, "sizes join did not flip to shuffle_hash at the 10^10 hint"
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in base_plan


def test_minhash_wide_shape_matches_long(spark):
    """shape='wide' must hold exactly the long table's signatures, one
    row per doc, in h-column order — on both execution paths."""
    df = _docs(
        spark,
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (5, "other words entirely")],
    )
    for kw in ({"vocab_cap": 10_000, "vocab_min_bytes": 0}, {"vocab_cap": None}):
        long = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8, **kw)
        wide = dedup.minhash_table(df, "doc_id", "text", n_hashes=8, ngram=8, shape="wide", **kw)
        sigs = {(r["id"], r["h"]): r["minhash"] for r in long.collect()}
        for r in wide.collect():
            for h in range(8):
                assert r[f"_s{h}"] == sigs[(r["id"], h)]
        assert wide.count() == 3
        # lsh accepts the wide form directly and agrees with the long form
        a = sorted(map(tuple, dedup.lsh_candidate_pairs(long, 4, 2).collect()))
        b = sorted(map(tuple, dedup.lsh_candidate_pairs(wide, 4, 2).collect()))
        assert a == b
