"""Deduplication operators for training-data pipelines.

The crawl engine dedups URLs (anti-joins in plans/round.py); this
module dedups *content* — the other half of a web-scale corpus pipeline:

- exact dedup: hash-groupBy on a content fingerprint;
- MinHash + LSH: char-shingle -> k minhashes -> banded signatures ->
  bucket self-join => candidate near-dup pairs without the O(n²) cross
  join (the only scalable path at 10^10 documents);
- n-gram Jaccard: exact similarity, computed only on pairs sharing at
  least one shingle (shingle-inverted-index join, not a cross join);
- SimHash: 16-bit sign-aggregated token-hash fingerprint.

All pure Catalyst expressions over ``md5``-derived 60-bit hashes so the
DuckDB oracle reproduces results bit-for-bit (functions/text.py).

Scale notes: every self-join here keys on a shingle/bucket value =>
hash-shuffle both sides once; stopword-like mega-shingles are the skew
risk — ``max_shingle_df`` drops shingles whose document frequency
explodes the candidate set (standard LSH practice), bounding the join
fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_spark.functions.text import (
    char_ngrams,
    md5_long,
    tokens_ws,
)
from distributed_web_scrapper_and_crawler_spark.operators.spread import spread_small_scan


def _char_ngrams_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows via explode(sequence)+substr — whole-stage-codegen
    shingling. The higher-order ``transform`` in functions.char_ngrams does
    NOT codegen (interpreted per element); generating positions and slicing
    inside codegen measured 10x faster at sf0.1 (PLANS.md ledger). Short
    strings yield one gram, matching char_ngrams exactly."""
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .select(
            "id",
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("__t") - (n - 1), F.lit(1)))
            ).alias("__i"),
        )
        .select("id", F.expr(f"substr(__t, __i, {n})").alias("shingle"))
    )


def exact_dup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(n_docs, n_unique, n_dup_docs) on the md5 content fingerprint."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dup_docs"),
    )


def exact_dedup_keep_first(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivors: lowest id per identical content (first-discovery rule,
    mirroring the crawl dedup tie-break)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, local_distinct: bool = True
) -> DataFrame:
    """(id, shingle) distinct — the inverted-index side of similarity joins.

    (id, shingle)-distinct is per-DOCUMENT distinct, so the default
    computes it row-locally with ``array_distinct`` before the explode —
    zero shuffle, where a post-explode ``.distinct()`` shuffles every
    shingle occurrence (~150x the document count). The shuffle variant
    (``local_distinct=False``) remains for set-semantics consumers that
    want the exchange co-located on shingle; minhash no longer uses it —
    min over a multiset equals min over the set, so the minhash path
    skips the distinct entirely (round-5 ledger, PLANS.md)."""
    if local_distinct:
        return spread_small_scan(df).select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(char_ngrams(text_col, n))).alias("shingle"),
        )
    return _char_ngrams_rows(spread_small_scan(df), id_col, text_col, n).distinct()


# Above this many documents the per-doc size table (2 longs/doc) stops
# being broadcastable (~1.6 GB at 10^8 docs) and the sizes lookup flips
# to a shuffle_hash join — the same advisory-default-to-enforced move
# ann._resolve_n_planes made for LSH plane counts (VERDICT r6 wrong #2).
_BROADCAST_SIZES_CAP = 100_000_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Exact Jaccard over char-n-gram sets for pairs sharing >=1 shingle.

    shared(a,b) via shingle equi-join; |a ∪ b| = |a| + |b| - shared.
    Returns (a, b, jaccard) with a < b, jaccard rounded to 4 decimals.
    """
    # materialize the per-doc DISTINCT SHINGLE ARRAYS once, before the
    # hot-list pass (round-7 reshape of the round-5 "checkpoint the
    # shingle table" move): the shingle rows feed five consumers (the
    # hot-list agg, the anti-join probe, both self-join sides, the size
    # table) and Catalyst plans no exchange reuse across them — but
    # materializing them EXPLODED wrote one row per (id, shingle)
    # (13.6M rows at sf1.0, ~2 s to checkpoint, twice). The doc-array
    # form holds the same strings in corpus-count rows (50k), so the
    # expensive part (the interpreted array_distinct(transform(...))
    # shingling HOF, measured 1.5 s of the 3.2 s explode pipeline at
    # sf1.0) runs once, the checkpoint is small, and each consumer
    # re-derives rows with a cheap codegen explode. The real-system
    # analog is writing the inverted index doc-major before the
    # pair-generation pass.
    docarr = (
        spread_small_scan(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(char_ngrams(text_col, n)).alias("_arr"),
        )
        .localCheckpoint()
    )
    sh = docarr.select("id", F.explode("_arr").alias("shingle"))
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").localCheckpoint()
    # per-doc set sizes ride WITH the shingle rows (broadcast hash probe,
    # codegen) instead of joining onto the pair table afterwards: the
    # post-groupBy intermediate is the biggest table of the query, and the
    # round-5 shape paid two shuffled joins over it just to look sizes
    # back up (VERDICT r5 #4). sizes is O(n_docs) rows (2 longs/doc) —
    # broadcast below _BROADCAST_SIZES_CAP docs; pass ``corpus_count``
    # above the cap (10^10-doc deployments) and the lookup flips to a
    # shuffle_hash join instead of an impossible driver-built broadcast
    # (count-adaptive, not advisory — VERDICT r6 wrong #2).
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if corpus_count is not None and corpus_count > _BROADCAST_SIZES_CAP:
        shz = sh.join(sizes.hint("shuffle_hash"), "id")
    else:
        shz = sh.join(F.broadcast(sizes), "id")
    # shuffle-hash, never broadcast: the inverted index is the BIG side at
    # scale — AQE otherwise broadcasts the whole 725k-row table at sf0.1
    # (driver-built hash table; impossible at 100x), and shuffle_hash also
    # measured faster locally
    l = shz.select(F.col("id").alias("a"), "shingle", F.col("sz").alias("sza")).hint("shuffle_hash")
    r = shz.select(F.col("id").alias("b"), "shingle", F.col("sz").alias("szb")).hint("shuffle_hash")
    # size-ratio prune BEFORE the shared-count aggregation (AllPairs/PPJoin
    # length filter): J(a,b) <= min(sz)/max(sz), so a pair whose size ratio
    # can't reach the threshold is dropped per joined ROW, ahead of the
    # hash agg. eps keeps pairs whose true J could still ROUND up to the
    # threshold (the output contract rounds to `round_to`).
    eps = 0.5 / (10**4)
    shared = (
        l.join(r, "shingle")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.least("sza", "szb") >= (threshold - eps) * F.greatest("sza", "szb"))
        )
        .groupBy("a", "b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.withColumn(
            "jaccard", F.round(F.col("shared") / (F.col("sza") + F.col("szb") - F.col("shared")), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


# Broadcastable distinct-shingle cap for the vocabulary-adaptive minhash
# path: 1M shingles x (8-char string + n_hashes longs) is a ~100 MB
# broadcast — the accepted ceiling. Web-scale corpora with open-ended
# vocabularies exceed it and take the inline-hash path (the scale shape:
# hashing inline beats shuffling 10^12 occurrence rows through a join).
_MINHASH_VOCAB_CAP = 1_000_000

# Input-size floor for the vocabulary probe: below ~2 MB of document
# bytes the probe's fixed structure (one distinct pass + checkpoint +
# broadcast build, ~0.5 s of extra jobs) exceeds what inline hashing
# costs outright (measured at sf0.1: vocab 1.69 s vs inline 1.20 s,
# while sf1.0 reads vocab 2.4 s vs inline 5.5 s — breakeven ~sf0.3).
# Free to evaluate: Catalyst's sizeInBytes estimate, no job.
_MINHASH_VOCAB_MIN_BYTES = 2 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df`` (driver-side, no job;
    ~file size for a parquet scan). Used ONLY for execution-strategy
    choice — both strategies are output-identical — so a bad estimate
    costs time, never correctness. Returns a huge sentinel on failure so
    estimation errors lean toward the at-scale shape."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 60


def minhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    ngram: int = 8,
    vocab_cap: int | None = _MINHASH_VOCAB_CAP,
    vocab_min_bytes: int = _MINHASH_VOCAB_MIN_BYTES,
    shape: str = "long",
) -> DataFrame:
    """(id, h, minhash): k independent minhashes via seed-concat md5 hashing.

    ``shape="wide"`` returns the SAME signatures as one row per doc —
    (id, _s0 .. _s{k-1}) with _sh = the h-th minhash — for consumers
    that immediately re-pivot the long table anyway (lsh_candidate_pairs
    accepts it directly): the vocab path produces wide natively, so
    skipping the explode + re-aggregate roundtrip saves a generated
    stage and ~0.2 s at sf1.0.

    The per-seed hash is ``md5(concat(seed, '#', shingle))`` so the
    oracle can reproduce it; min per (id, h) over the doc's shingle
    occurrences (no distinct needed: min over a multiset equals min over
    the set).

    Two output-identical execution shapes, chosen by the DISTINCT
    SHINGLE count (guide §1.2 — fix the algorithm first):

    The vocabulary probe only runs when the input's Catalyst size
    estimate reaches ``vocab_min_bytes`` (~sf0.3 of documents): below
    that the probe's fixed structure costs more than inline hashing
    outright (measured negative at sf0.1 — PLANS.md r7 ledger), so tiny
    inputs go straight to the inline shape.

    - vocabulary-small (<= ``vocab_cap``): hash each distinct shingle
      ONCE — k md5s per VOCABULARY entry instead of per occurrence —
      and broadcast the (shingle -> k hashes) table back onto the
      occurrence rows; min-aggregate the k hash columns per doc in one
      codegen hash-agg keyed on id alone. On repetitive corpora this
      removes almost all hash work (sf1.0: 13.6k distinct shingles vs
      14.6M occurrences = 109k md5 calls instead of 116M; measured
      5.5 s -> ~1.5 s for the minhash stage). The decision costs one
      cheap pass (partial-distinct collapses tiny vocabularies before
      the exchange; LocalLimit caps the job when the vocabulary is big).
    - vocabulary-large (or ``vocab_cap=None``): the round-5 inline
      shape — seed-explode + md5 per occurrence, one codegen stage into
      a map-side-combined (id, h) groupBy, zero shingle-row shuffles.
      k md5s/occurrence beat shuffling 10^12 occurrence rows through a
      join, and the broadcast would not fit anyway.
    """
    if shape not in ("long", "wide"):
        raise ValueError(f"minhash_table: unknown shape {shape!r}")
    # NULL text shingles as '' so both shapes hash "{h}#" for it, like the
    # DuckDB oracle's concat(h, '#', shingle): a NULL shingle would vanish
    # in the vocab join but hash as the bare seed "{h}" inline
    text = F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    sh = _char_ngrams_rows(spread_small_scan(df).select(id_col, text), id_col, text_col, ngram)
    if vocab_cap is not None and _plan_size_bytes(df) >= vocab_min_bytes:
        # materialize (tiny) so the count probe and the hash-table build
        # don't each re-run the distinct pass; limit caps the job early
        # on open-vocabulary corpora
        vocab = sh.select("shingle").distinct().limit(vocab_cap + 1).localCheckpoint()
        if vocab.count() <= vocab_cap:
            htbl = vocab.select(
                "shingle",
                *[
                    md5_long(F.concat(F.lit(f"{h}#"), F.col("shingle"))).alias(f"_h{h}")
                    for h in range(n_hashes)
                ],
            )
            mins = (
                sh.join(F.broadcast(htbl), "shingle")
                .groupBy("id")
                .agg(*[F.min(f"_h{h}").alias(f"_s{h}") for h in range(n_hashes)])
            )
            if shape == "wide":
                return mins
            pairs = F.array(
                *[
                    F.struct(F.lit(h).alias("h"), F.col(f"_s{h}").alias("minhash"))
                    for h in range(n_hashes)
                ]
            )
            return mins.select("id", F.explode(pairs).alias("_p")).select(
                "id", F.col("_p.h").alias("h"), F.col("_p.minhash").alias("minhash")
            )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("h")
    exploded = sh.select("id", "shingle", seeds)
    hv = md5_long(F.concat_ws("#", F.col("h").cast("string"), F.col("shingle")))
    long = exploded.withColumn("hv", hv).groupBy("id", "h").agg(F.min("hv").alias("minhash"))
    if shape == "wide":
        return _minhash_pivot(long, n_hashes)
    return long


def _minhash_pivot(minhash: DataFrame, n_h: int) -> DataFrame:
    """(id, h, minhash) -> (id, _s0.._s{n_h-1}) via conditional mins —
    pure codegen HashAggregate, shared by minhash_table(shape='wide')
    and lsh_candidate_pairs."""
    return minhash.groupBy("id").agg(
        *[F.min(F.when(F.col("h") == h, F.col("minhash"))).alias(f"_s{h}") for h in range(n_h)]
    )


def lsh_candidate_pairs(
    minhash: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidates.

    Band signature = the band's ``rows_per_band`` minhashes in h order
    (injective at any rows_per_band); docs pair iff some band's vector
    matches componentwise. Output: distinct (a < b) pairs. The bucket
    join replaces the cross join — the scale move.

    Contract: ``minhash`` holds exactly h = 0 .. bands*rows_per_band - 1
    per id (i.e. it was built with n_hashes == bands * rows_per_band —
    every registry caller and the SQL oracles satisfy this). A long-input
    row with h outside that range fails the query (``assert_true`` inside
    the pivot, no extra job) instead of being silently ignored.
    ``minhash`` may be either the long (id, h, minhash) table or
    minhash_table's ``shape="wide"`` output — the wide form skips the
    re-pivot here.

    Execution shape (round-7, guide §2.3/§2.4 — output-identical to the
    previous band-string self-join + distinct):
    - ONE wide signature row per doc: groupBy(id) with a conditional-min
      column per h (pure codegen HashAggregate) replaces the old
      groupBy(id, band) collect_list + sort_array + concat_ws
      (ObjectHashAggregate, interpreted sort, per-row string building).
      No signature strings are built or shuffled — componentwise long
      equality == string-signature equality (':'-joined decimal longs
      are injective).
    - ONE self-join on exploded (band, band-keys) rows with the full
      signature vector riding along: a pair is emitted ONLY at its
      first matching band (per-row predicate "no earlier band with a
      lower index also matches"), so the output is distinct BY
      CONSTRUCTION and the pair-table-sized .distinct() exchange of the
      pre-round-7 shape disappears (2.25 s over 4.2M pairs at sf1.0).
      At scale this moves dedup work from pair-space (quadratic in
      bucket size) to doc-space; at small scale it is a wash vs
      join+distinct (measured 1.22 vs 1.20 s at sf0.1), so one shape
      serves every size — which also means the sf0.01 driver
      correctness gate exercises exactly the plan that runs at sf1.0.
    """
    n_h = bands * rows_per_band
    if set(minhash.columns) == {"id", *(f"_s{h}" for h in range(n_h))}:
        wide = minhash  # already the wide signature table
    else:
        in_range = F.assert_true(
            F.col("h").between(0, n_h - 1),
            f"lsh_candidate_pairs: minhash h must be in 0..{n_h - 1} "
            f"(bands * rows_per_band = {n_h})",
        )
        # assert_true yields NULL when it passes: coalescing it into the
        # pivoted value keeps the check in the pivot's own scan
        checked = minhash.withColumn("minhash", F.coalesce(in_range, F.col("minhash")))
        wide = _minhash_pivot(checked, n_h)
    # both self-join sides read this; materialize once (same
    # no-exchange-reuse rationale as ngram_jaccard_pairs)
    wide = wide.localCheckpoint()
    # ONE self-join on exploded (band, band-keys) rows with the FULL
    # signature vector riding along, so "emitted only by the first
    # matching band" is a per-row predicate — distinct by construction,
    # no pair-table exchange, and a single generated join class (a
    # per-band join union variant compiled `bands` separate codegen
    # classes and paid a job launch per band — measured slower at both
    # scales; PLANS.md r7 ledger).
    vec = [f"_s{h}" for h in range(n_h)]
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(f"_s{b * rows_per_band + j}").alias(f"k{j}")
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    keys = ["band"] + [f"k{j}" for j in range(rows_per_band)]
    banded = wide.select("id", *vec, F.explode(bands_arr).alias("_b")).select("id", *vec, "_b.*")
    l = banded.select(
        F.col("id").alias("a"), *keys, *[F.col(c).alias(f"_l{c}") for c in vec]
    )
    r = banded.select(
        F.col("id").alias("b"), *[F.col(k).alias(f"_r{k}") for k in keys],
        *[F.col(c).alias(f"_r{c}") for c in vec],
    )
    on = [F.col(k) == F.col(f"_r{k}") for k in keys]
    earlier = F.lit(False)
    for eb in range(bands - 1):
        all_eq = F.lit(True)
        for h in range(eb * rows_per_band, (eb + 1) * rows_per_band):
            all_eq = all_eq & (F.col(f"_l_s{h}") == F.col(f"_r_s{h}"))
        earlier = earlier | ((F.col("band") > eb) & all_eq)
    return (
        l.join(r, on)
        .filter((F.col("a") < F.col("b")) & ~earlier)
        .select("a", "b")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per bit b, sign of sum over tokens of
    (+1 if md5_long(token) has bit b else -1); token multiplicity counts.
    Returns (id, simhash int)."""
    toks = spread_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(tokens_ws(text_col)).alias("tok")
    )
    hv = toks.withColumn("hv", md5_long(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = hv.groupBy("id").agg(*bit_sums)
    sim = F.lit(0)
    for b in range(bits):
        sim = sim + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return agg.select("id", sim.cast("long").alias("simhash"))
