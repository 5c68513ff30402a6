"""Schedule-pass workload: one candidate batch through canon → in-batch
dedup → bloom-pruned seen anti-join → politeness pop → URL rejoin, driven
through the engine's public functions, plus the naive reference plan and
the staged (traced) replay of the same pass."""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U
from nrsr_crawler_spark.operators import frontier, politeness
from nrsr_crawler_spark.operators import seen as seen_ops

import gen
import probes

# candidate rows at --scale 1; each URL appears about DUP times
N = 400_000
DUP = 4
SEEN_SHARE = 0.02  # of the distinct URLs, so few candidates hit the seen set
BUDGET = 1000
# the crawl engine's defaults (CrawlEngine num_salts / n_segments / bloom_fp)
NUM_SALTS = 16
N_SEGMENTS = 16
BLOOM_FP = 1e-4


@dataclass
class Schedule:
    spark: object
    full: DataFrame  # program input + reference columns, persisted
    raw: DataFrame  # what the program receives: url, seq, priority
    seen: DataFrame
    segments: DataFrame
    bc: object  # broadcast bitsets, or None in the partitioned regime
    n: int
    seen_keys: int
    seen_build_s: float

    def release(self) -> None:
        for df in (self.full, self.seen, self.segments):
            df.unpersist()
        if self.bc is not None:
            self.bc.destroy()


def _persist(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def setup(spark, seed: int, scale: float) -> Schedule:
    """Generate and cache the inputs, then build the seen filter the way the
    engine does: bitsets sized by ``bits_for(keys per segment, fp)``, and
    collected for broadcast while the seen set is under the engine's
    broadcast limit."""
    full, seen = gen.schedule_candidates(spark, seed, max(1000, int(N * scale)), DUP, SEEN_SHARE)
    full, n = _persist(full)
    t0 = time.perf_counter()
    seen, seen_keys = _persist(seen)
    m_bits, k = seen_ops.bits_for(max(seen_keys // N_SEGMENTS, 64), BLOOM_FP)
    m_bits = (m_bits + 7) // 8 * 8
    segments, _ = _persist(seen_ops.build_segments(seen, N_SEGMENTS, m_bits=m_bits, k=k))
    bc = seen_ops.collect_segments(spark, segments) if seen_keys <= seen_ops._BROADCAST_KEYS_LIMIT else None
    raw = full.select("url", "seq", "priority")
    return Schedule(spark, full, raw, seen, segments, bc, n, seen_keys, time.perf_counter() - t0)


def fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """Order-independent digest of a ``(url_hash, seq, rk, canon_url)`` set:
    row count, XOR and 40-bit sum of the row hashes."""
    h = F.xxhash64("url_hash", "seq", "rk", "canon_url")
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("s"),
    ).collect()[0]
    return int(r["n"]), int(r["x"] or 0), int(r["s"] or 0)


def pass_plan(st: Schedule) -> DataFrame:
    """The schedule pass as the engine's public functions compose it."""
    cand = frontier.prepare_candidates_slim(st.raw)
    fresh = seen_ops.dedup_with_bloom(cand, st.seen, st.segments, N_SEGMENTS, bc=st.bc)
    keys = politeness.pop_budget(fresh, budget=BUDGET, num_salts=NUM_SALTS, tiebreak=[F.col("url_hash")])
    return frontier.rejoin_urls(keys.select("url_hash", "seq", "rk"), st.raw)


def run_pass(st: Schedule) -> tuple[float, tuple[int, int, int]]:
    t0 = time.perf_counter()
    fp = fingerprint(pass_plan(st))
    return time.perf_counter() - t0, fp


# -- correctness reference ----------------------------------------------------
def reference_popped(st: Schedule) -> DataFrame:
    """Naive plan over the generator's own canonical URLs: min-seq winner per
    URL, plain left-anti join against the exact seen table, and a single
    ``Window.partitionBy(host)`` pop."""
    c = st.full.select(
        F.xxhash64("ref_canon").alias("url_hash"),
        "seq",
        "priority",
        F.col("ref_canon").alias("canon_url"),
        F.col("ref_host").alias("host"),
    )
    first = c.withColumn("_r", F.row_number().over(Window.partitionBy("url_hash").orderBy("seq")))
    fresh = first.filter(F.col("_r") == 1).join(st.seen, "url_hash", "left_anti")
    order = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq").desc(), F.col("url_hash"))
    ranked = fresh.withColumn("rk", F.row_number().over(order))
    return ranked.filter(F.col("rk") <= BUDGET).select("url_hash", "seq", "rk", "canon_url")


def check(st: Schedule) -> dict:
    """Reference digest, bloom false-negative/positive counts and the
    realised input properties (all outside the timed region)."""
    ref_fp = fingerprint(reference_popped(st))
    distinct = st.full.select(F.xxhash64("ref_canon").alias("url_hash"), "ref_host").distinct()
    if st.bc is not None:
        flagged = seen_ops.bloom_flag_broadcast(distinct, st.segments, N_SEGMENTS, bc=st.bc)
    else:
        flagged = seen_ops.bloom_flag(distinct, st.segments, N_SEGMENTS)
    in_seen = F.col("_in_seen").isNotNull()
    f = (
        flagged.join(st.seen.select("url_hash", F.lit(True).alias("_in_seen")), "url_hash", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("ref_host").alias("hosts"),
            F.sum(in_seen.cast("long")).alias("hits"),
            F.sum(F.col("maybe_seen").cast("long")).alias("pos"),
            F.sum((F.col("maybe_seen") & ~in_seen).cast("long")).alias("fp"),
            F.sum((~F.col("maybe_seen") & in_seen).cast("long")).alias("fn"),
        )
        .collect()[0]
    )
    n_distinct = int(f["n"])
    return {
        "ref_fingerprint": ref_fp,
        "bloom_fn": int(f["fn"] or 0),
        "bloom_pos": int(f["pos"] or 0),
        "bloom_fp": int(f["fp"] or 0),
        "props": {
            "candidates": st.n,
            "distinct_urls": n_distinct,
            "unique_share": n_distinct / st.n,
            "seen_keys": st.seen_keys,
            "seen_hit_share": int(f["hits"] or 0) / max(n_distinct, 1),
            "hosts": int(f["hosts"]),
            "popped": ref_fp[0],
            "bloom_regime": "broadcast" if st.bc is not None else "partitioned",
        },
    }


# -- staged replay (traced run) -------------------------------------------------
def _stage(sp: probes.Spans, name: str, df: DataFrame) -> tuple[DataFrame, int, float, list]:
    """Persist ``df`` and materialise it inside span ``name``; returns the
    persisted frame, its row count, the span's duration and the executed-plan
    metrics."""
    sc = df.sparkSession.sparkContext
    sc.setJobGroup(f"{sp.run_id}:{name}", name)
    with sp.span(name) as rec:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        counted = df.select(F.count(F.lit(1)).alias("n"))
        n = counted.collect()[0][0]
    sc.setJobGroup("", "")
    sp.counts[f"{name}.rows"] = n
    return df, int(n), rec["end"] - rec["start"], probes.plan_metrics(counted)


def _rows(metrics, cls_prefix: str, needle: str) -> int:
    return sum(v.get("numOutputRows", 0) for c, s, v in metrics if c.startswith(cls_prefix) and needle in s)


def traced_pass(st: Schedule, sp: probes.Spans) -> dict:
    """Replay the pass stage by stage, each stage a public function applied
    to the previous stage's persisted output.  Stage times decompose the pass
    (each stage pays its own materialisation); they do not sum to it."""
    spark = st.spark
    with sp.span("schedule.pass") as whole:
        canon, _, canon_s, _ = _stage(
            sp, "urls.canon", U.with_canon(st.raw, hash_col="url_hash").select("url_hash", "seq", "priority", "host")
        )
        # the struct-min exchange prepare_candidates_slim runs after its canon
        dedup, n_dedup, dedup_s, m_dedup = _stage(
            sp, "frontier.dedup", frontier.prepare_in_batch(canon).filter(F.col("host").isNotNull())
        )
        fresh, _, probe_s, m_seen = _stage(
            sp, "seen.probe", seen_ops.dedup_with_bloom(dedup, st.seen, st.segments, N_SEGMENTS, bc=st.bc)
        )
        keys, _, pop_s, m_pop = _stage(
            sp,
            "politeness.pop",
            politeness.pop_budget(fresh, budget=BUDGET, num_salts=NUM_SALTS, tiebreak=[F.col("url_hash")]).select(
                "url_hash", "seq", "rk"
            ),
        )
        rejoined, _, rejoin_s, m_rejoin = _stage(sp, "frontier.rejoin", frontier.rejoin_urls(keys, st.raw))
        fp = fingerprint(rejoined)
    for df in (canon, dedup, fresh, keys, rejoined):
        df.unpersist()

    # the level-1 window stage is the pop stage that reads the most records
    pop_jobs = probes.job_ids(spark, f"{sp.run_id}:politeness.pop")
    stages = [probes.task_shuffle_records(spark, s) for s in probes.stage_ids(spark, pop_jobs)]
    level1 = max(stages, key=sum, default=[])
    return {
        "urls.canon_s": canon_s,
        "urls.canon_ns_per_url": canon_s / st.n * 1e9,
        "frontier.dedup_s": dedup_s,
        "frontier.dedup_shuffle_bytes_per_url": probes.shuffle_bytes(m_dedup) / st.n,
        "frontier.unique_share": n_dedup / st.n,
        "seen.probe_s": probe_s,
        "seen.probe_shuffle_bytes_per_url": probes.shuffle_bytes(m_seen) / st.n,
        "politeness.pop_s": pop_s,
        "politeness.level1_rows": _rows(m_pop, "Filter", "__r1"),
        "politeness.pop_shuffle_bytes_per_url": probes.shuffle_bytes(m_pop) / st.n,
        "politeness.pop_task_skew": probes.skew(level1),
        "frontier.rejoin_s": rejoin_s,
        "frontier.rejoin_rows": _rows(m_rejoin, "BroadcastHashJoin", ""),
        "_pass_s": whole["end"] - whole["start"],
        "_fingerprint": fp,
    }


def bloom_layer(chk: dict) -> dict:
    """Bloom counts for the traced run, from the reference check's flags."""
    pos = chk["bloom_pos"]
    return {
        "seen.exact_check_rows": pos,
        "seen.bloom_positive_share": pos / max(chk["props"]["distinct_urls"], 1),
        "seen.bloom_fp_share": chk["bloom_fp"] / pos if pos else 0.0,
    }
