"""Extra benchmarks for the optimization round (guide §1): per-query
timing with the SAME methodology as bench.py (fn().count(), min-of-N),
plus .explain("formatted") capture to plans/r07/, plus noop-sink
isolation timings for sub-phases of the heavy queries.

bench.py is FROZEN for measurement; this file only produces side
evidence cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py time   [sf_dir] [names...]   # min-of-3 per query
  python bench_extra.py plans  [sf_dir] [suffix]     # write plans/r07/<q>_<suffix>.txt
  python bench_extra.py phases [sf_dir]              # sub-phase isolation (noop sink)
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_q1",
    "revenue_by_nation",
    "topk_per_group",
    "sessionize",
    "text_search",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "embedding_topk",
    "token_stats",
    "recent_activity",
]


def _steal() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return -1


def get_session():
    from distributed_web_scrapper_and_crawler_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(app_name="dwsc-bench-extra", master=f"local[{cpus}]", shuffle_partitions=32)


def warmup(spark, sf_dir):
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in ("flagship_q1", "topk_per_group"):
            QUERY_REGISTRY[name].fn(spark, warm_dir).count()


def cmd_time(sf_dir: str, names: list[str], n_runs: int = 3) -> None:
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    spark = get_session()
    warmup(spark, sf_dir)
    out = {}
    for name in names:
        fn = QUERY_REGISTRY[name].fn
        samples = []
        s0 = _steal()
        for _ in range(n_runs):
            t0 = time.monotonic()
            fn(spark, sf_dir).count()
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples, "steal": _steal() - s0}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "total_min": round(sum(v["min"] for v in out.values()), 3)}))


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def cmd_plans(sf_dir: str, suffix: str, names: list[str]) -> None:
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    spark = get_session()
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07"), exist_ok=True)
    for name in names:
        df = QUERY_REGISTRY[name].fn(spark, sf_dir)
        p = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "plans", "r07", f"{name}_{suffix}.txt"
        )
        with open(p, "w") as f:
            f.write(_explain_str(df))
        print(f"wrote {p}")


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 3)


def cmd_phases(sf_dir: str) -> None:
    """Sub-phase isolation for the heavy queries (noop sink, guide §1.4)."""
    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_spark.analytics.queries import t
    from distributed_web_scrapper_and_crawler_spark.operators import ann, dedup
    from distributed_web_scrapper_and_crawler_spark.operators.spread import spread_small_scan

    spark = get_session()
    warmup(spark, sf_dir)
    sc = spark.sparkContext
    res = {}
    docs = t(spark, sf_dir, "documents")

    sc.setJobDescription("phase: minhash_table only")
    mh = dedup.minhash_table(docs, "doc_id", "text", n_hashes=8, ngram=8)
    res["lsh.minhash_table"] = _noop(mh)

    sc.setJobDescription("phase: shingle explode only (no hash)")
    sh = dedup._char_ngrams_rows(spread_small_scan(docs), "doc_id", "text", 8)
    res["lsh.shingle_rows_only"] = _noop(sh.select(F.count(F.lit(1)).alias("n")))

    sc.setJobDescription("phase: shingle x8 seeds + md5 (no agg)")
    seeds = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("h")
    from distributed_web_scrapper_and_crawler_spark.functions.text import md5_long

    exploded = sh.select("id", "shingle", seeds)
    hv = exploded.withColumn(
        "hv", md5_long(F.concat_ws("#", F.col("h").cast("string"), F.col("shingle")))
    )
    res["lsh.md5_no_agg"] = _noop(hv.select(F.min("hv").alias("mn"), F.count(F.lit(1)).alias("n")))

    sc.setJobDescription("phase: lsh full")
    full = dedup.lsh_candidate_pairs(
        dedup.minhash_table(docs, "doc_id", "text", n_hashes=8, ngram=8), bands=4, rows_per_band=2
    )
    res["lsh.full"] = _noop(full)

    sc.setJobDescription("phase: ngram shingle_table+checkpoint")
    t0 = time.monotonic()
    sh2 = dedup.shingle_table(docs, "doc_id", "text", 8).localCheckpoint()
    res["ngram.shingle_checkpoint"] = round(time.monotonic() - t0, 3)
    sc.setJobDescription("phase: ngram full")
    res["ngram.full"] = _noop(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=8, threshold=0.35, max_shingle_df=50)
    )

    emb = t(spark, sf_dir, "embeddings")
    sc.setJobDescription("phase: embedding_topk full")
    res["emb.topk_full"] = _noop(ann.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5))
    sc.setJobDescription(None)
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    rest = sys.argv[3:]
    if cmd == "time":
        cmd_time(sf_dir, rest or HEADLINE)
    elif cmd == "plans":
        suffix = rest[0] if rest else "before"
        cmd_plans(sf_dir, suffix, rest[1:] or HEADLINE)
    elif cmd == "phases":
        cmd_phases(sf_dir)
    else:
        raise SystemExit(f"unknown cmd {cmd}")
