"""The LLM-corpus preparation workload (``corpus_dedup``)."""

from __future__ import annotations

import os
import statistics
import time

import gen
from common import CpuClock, EngineCounters, Tracer, closed_loop, release

N_SEED_DOCS = 80
SHARDS = 8
#: quality gate: the cheap pre-filters a corpus pipeline applies first
MIN_TOKENS = 50
MAX_PUNCT_RATIO = 0.2
MAX_DIGIT_RATIO = 0.2
#: word-bigram Jaccard at or above which an LSH candidate pair is a duplicate
JACCARD = 0.8
#: planted near-copy recall below this fails the pass
NEAR_RECALL_FLOOR = 0.9
VECTOR_RECALL_FLOOR = 0.9
COSINE = 0.99
#: closed loop: unmeasured passes after the cold one, and a warm pass's
#: wall time on a quiet 4-core host (sets the measured pass count)
WARM_PASSES = 1
NOMINAL_PASS_S = 4.5


def _write_inputs(corpus: gen.Corpus, path: str) -> None:
    """Land the corpus as parquet shards, one table per directory, with
    rows dealt round-robin so every shard holds long and short documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, cols, rows in (
        ("docs", ("doc_id", "text"), corpus.docs),
        ("embeddings", ("vec_id", "embedding"), corpus.vectors),
    ):
        os.makedirs(os.path.join(path, name), exist_ok=True)
        for k in range(SHARDS):
            part = rows[k::SHARDS]
            pq.write_table(
                pa.table({c: [r[j] for r in part] for j, c in enumerate(cols)}),
                os.path.join(path, name, f"part-{k:03d}.parquet"),
            )


def _pass(spark, in_dir: str, tr: Tracer, staged: bool) -> tuple[list[int], set, dict]:
    """One corpus-preparation pass. Returns (kept doc ids, near-duplicate
    vector pairs, counts). With ``staged`` every step's output is
    persisted and counted before the next step, so each span holds that
    step's execution time."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from etl_capnz_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )
    from etl_capnz_spark.operators.similarity import near_dup_pairs
    from etl_capnz_spark.operators.text import quality_metrics

    counts: dict[str, int] = {}

    def stage(df, name):
        if staged:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            counts[name] = df.count()
        return df

    docs = spark.read.parquet(os.path.join(in_dir, "docs"))
    emb = spark.read.parquet(os.path.join(in_dir, "embeddings"))
    with tr.span("pass"):
        with tr.span("text.quality"):
            gated = stage(
                quality_metrics(docs, "text")
                .filter(
                    (F.col("n_tokens") >= MIN_TOKENS)
                    & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
                    & (F.col("digit_ratio") <= MAX_DIGIT_RATIO)
                )
                .select("doc_id", "text"),
                "gated",
            )
        with tr.span("dedup.exact"):
            unique = stage(exact_dedup(gated, "text", "doc_id"), "unique")
        with tr.span("dedup.minhash"):
            sigs = stage(minhash_signatures(unique, "text", "doc_id", num_hashes=8), "sigs")
        with tr.span("dedup.lsh"):
            cands = stage(lsh_candidates(sigs, "doc_id", num_hashes=8, bands=4), "candidates")
        with tr.span("dedup.verify"):
            sh = unique.select(
                "doc_id", F.array_distinct(word_shingles(F.col("text"))).alias("sh")
            )
            a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sa"))
            b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_sb"))
            inter = F.size(F.array_intersect("_sa", "_sb"))
            union = F.size(F.array_union("_sa", "_sb"))
            verified = stage(
                cands.join(a, "id_a")
                .join(b, "id_b")
                .filter((union > 0) & (inter / union >= JACCARD))
                .select("id_a", "id_b"),
                "verified",
            )
        with tr.span("dedup.components"):
            losers = stage(
                connected_components(verified)
                .filter(F.col("id") != F.col("component"))
                .select(F.col("id").alias("doc_id")),
                "losers",
            )
        with tr.span("dedup.representatives"):
            kept = [r[0] for r in unique.join(losers, "doc_id", "left_anti").select("doc_id").collect()]
        with tr.span("similarity.near_dup"):
            pairs = {
                (r[0], r[1])
                for r in near_dup_pairs(emb, "vec_id", "embedding", threshold=COSINE)
                .select("id_a", "id_b")
                .collect()
            }
    if staged:
        counts["docs_in"] = docs.count()
        for df in (gated, unique, sigs, cands, verified, losers):
            df.unpersist()
    return kept, pairs, counts


def _check(corpus: gen.Corpus, kept: list[int], pairs: set) -> dict:
    s = set(kept)
    near_removed = sum(1 for c, _ in corpus.near_copies if c not in s)
    return {
        "exact_left": sum(1 for i in corpus.exact_copies if i in s),
        "junk_left": sum(1 for i in corpus.junk_ids if i in s),
        "seeds_lost": sum(1 for i in corpus.seed_ids if i not in s),
        "near_recall": near_removed / len(corpus.near_copies),
        "vector_recall": len(pairs & corpus.planted_vec_pairs) / len(corpus.planted_vec_pairs),
    }


def _passed(c: dict) -> bool:
    return (
        c["exact_left"] == 0
        and c["junk_left"] == 0
        and c["seeds_lost"] == 0
        and c["near_recall"] >= NEAR_RECALL_FLOOR
        and c["vector_recall"] >= VECTOR_RECALL_FLOOR
    )


def corpus_dedup(spark, work: str, seed: int, seconds: float, trace: bool, run_id: str):
    corpus = gen.Corpus(seed, N_SEED_DOCS)
    in_dir = os.path.join(work, "corpus")
    _write_inputs(corpus, in_dir)
    n_docs = len(corpus.docs)
    tracers = {False: Tracer(run_id, False), True: Tracer(run_id, True)}
    traced = tracers[True]
    counters = EngineCounters(spark)
    clock = CpuClock(spark)
    attempted = failed = 0
    engine: list[dict] = []
    last_check: dict = {}

    def one(trace_pass: bool) -> tuple[float, float, float]:
        nonlocal attempted, failed, last_check
        release(spark)
        counters.mark()
        c, j = clock.read()
        t = time.perf_counter()
        kept, pairs, _ = _pass(spark, in_dir, tracers[trace_pass], staged=False)
        wall = time.perf_counter() - t
        c1, j1 = clock.read()
        engine.append(counters.since_mark())
        last_check = _check(corpus, kept, pairs)
        attempted += 1
        failed += not _passed(last_check)
        return wall, c1 - c, j1 - j

    loop = closed_loop(one, seconds, trace, WARM_PASSES, NOMINAL_PASS_S)
    cold, walls = loop["cold"], loop["walls"]
    pass_s = statistics.median(walls)
    metrics = {
        "cold_pass_s": cold,
        "pass_exec_cpu_s": statistics.median(loop["exec_cpus"]),
        "pass_s": pass_s,
        "items_per_s": n_docs / pass_s,
    }
    named = {
        "dedup_docs_per_s": (n_docs / pass_s, "1/s", len(walls)),
        "dedup_pass_s": (pass_s, "s", len(walls)),
    }
    layers = {}
    if trace:
        with traced.span("staged"):
            kept, pairs, counts = _pass(spark, in_dir, traced, staged=True)
        chk = _check(corpus, kept, pairs)
        cands = counts["candidates"]
        layers = {
            "text.quality_s": traced.total_self("text.quality", "staged"),
            "text.pass_ratio": counts["gated"] / counts["docs_in"],
            "dedup.exact_s": traced.total_self("dedup.exact", "staged"),
            "dedup.exact_removed": counts["gated"] - counts["unique"],
            "dedup.minhash_s": traced.total_self("dedup.minhash", "staged"),
            "dedup.lsh_s": traced.total_self("dedup.lsh", "staged"),
            "dedup.candidate_pairs": cands,
            "dedup.verified_pairs": counts["verified"],
            "dedup.lsh_precision": counts["verified"] / cands if cands else 0.0,
            "dedup.verify_s": traced.total_self("dedup.verify", "staged"),
            "dedup.components_s": traced.total_self("dedup.components", "staged"),
            "dedup.planted_recall": chk["near_recall"],
            "similarity.near_dup_s": traced.total_self("similarity.near_dup", "staged"),
            "similarity.pairs_out": len(pairs),
            "similarity.planted_recall": chk["vector_recall"],
            "trace.overhead_s": statistics.median(loop["traced"]) - pass_s,
        }
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "named": named,
        "layers": layers,
        "engine": engine,
        "tracer": traced,
        "info": {"docs": n_docs, "check": last_check, "warmup_pass_s": loop["warmup"], "pass_walls_s": walls, "pass_cpu_s": loop["cpus"], "pass_exec_cpu_s": loop["exec_cpus"]},
    }
