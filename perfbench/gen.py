"""Seeded input generators for the frontier benchmark.

Every schedule-workload row is a pure function of ``(seed, id)`` through
``xxhash64``, built on ``spark.range`` — no files are read.  Alongside each
raw candidate the generator knows the URL's canonical form and host by
construction; the benchmark keeps those columns for the correctness
reference and hands the program only ``(url, seq, priority)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NRSR_HOST = "www.nrsr.sk"
SIDS = [
    "zakony/zakon",
    "zakony/cpt",
    "schodze/hlasovanie/hlasklub",
    "poslanci/poslanec",
    "schodze/rozprava/vystupenie",
]


def _h(seed: int, *cols: Column | int | str) -> Column:
    """Non-negative 63-bit hash of ``(seed, *cols)``."""
    parts = [F.lit(c) if isinstance(c, (int, str)) else c for c in cols]
    return F.pmod(F.xxhash64(F.lit(seed), *parts), F.lit(1 << 62))


def _pick(choices: list[str], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(c) for c in choices]), (idx % len(choices)).cast("int") + 1)


def _params(k: Column) -> tuple[Column, Column, Column]:
    """The three query parameters of key ``k`` (fixed per key)."""
    return (
        F.concat(F.lit("CisObdobia="), (F.pmod(k, F.lit(9)) + 1).cast("string")),
        F.concat(F.lit("ID="), k.cast("string")),
        F.concat(F.lit("sid="), _pick(SIDS, F.pmod(k, F.lit(len(SIDS))))),
    )


def canon_of(host: Column, k: Column) -> Column:
    """Canonical URL of key ``k`` on ``host``: lowercase scheme/host, query
    parameters sorted as full ``name=value`` strings (C < I < s)."""
    obd, id_, sid = _params(k)
    return F.concat(
        F.lit("https://"), host, F.lit("/web/Default.aspx?"), obd, F.lit("&"), id_, F.lit("&"), sid
    )


def raw_of(seed: int, row_id: Column, host: Column, k: Column) -> Column:
    """A raw spelling of key ``k``: mixed scheme/host case and one of the six
    query-parameter orders, chosen per row."""
    obd, id_, sid = _params(k)
    v = _h(seed, row_id, "spelling")
    prefix = F.when(v % 4 == 0, F.concat(F.lit("https://"), host))
    prefix = prefix.when(v % 4 == 1, F.concat(F.lit("HTTPS://"), F.upper(host)))
    prefix = prefix.when(v % 4 == 2, F.concat(F.lit("Https://"), F.upper(host)))
    prefix = prefix.otherwise(F.concat(F.lit("https://"), F.upper(host)))
    orders = [(obd, id_, sid), (obd, sid, id_), (id_, obd, sid), (id_, sid, obd), (sid, obd, id_), (sid, id_, obd)]
    o = F.floor(v / 4) % 6
    query = F.when(o == 0, F.concat_ws("&", *orders[0]))
    for i, parts in enumerate(orders[1:], start=1):
        query = query.when(o == i, F.concat_ws("&", *parts))
    return F.concat(prefix, F.lit("/web/Default.aspx?"), query.otherwise(F.lit("")))


def schedule_candidates(spark, seed: int, n: int, dup: int, seen_share: float) -> tuple[DataFrame, DataFrame]:
    """Single-host candidates: ``n`` rows over ``n // dup`` distinct keys
    (so each URL appears about ``dup`` times), and a small seen set holding
    ``seen_share`` of the distinct keys.

    Returns ``(candidates, seen)``; candidates carry ``url, seq, priority``
    for the program and ``ref_canon, ref_host`` for the reference."""
    distinct = max(1, n // dup)
    host = F.lit(NRSR_HOST)
    k = _h(seed, F.col("id"), "key") % distinct
    cand = spark.range(n).select(
        raw_of(seed, F.col("id"), host, k).alias("url"),
        F.col("id").alias("seq"),
        (_h(seed, F.col("id"), "prio") % 3).cast("int").alias("priority"),
        canon_of(host, k).alias("ref_canon"),
        host.alias("ref_host"),
    )
    keys = spark.range(distinct).select(F.col("id").alias("k"))
    seen = keys.filter(_h(seed, F.col("k"), "seen") % 10_000 < int(seen_share * 10_000)).select(
        F.xxhash64(canon_of(host, F.col("k"))).alias("url_hash")
    )
    return cand, seen


def crawl_pages(spark, site, failing: list[str]) -> DataFrame:
    """Page table for ``site`` in which the ``failing`` URLs fail their first
    fetch attempt (``fail_times`` = 1, below the engine's ``max_retries``) —
    the contract ``synthetic_site.inject_failures`` defines."""
    from nrsr_crawler_spark.sources.synthetic_site import PAGES_SCHEMA, site_rows

    pages = spark.createDataFrame(site_rows(site), PAGES_SCHEMA)
    fails = F.col("url").isin(failing)
    return pages.withColumn("fail_times", F.when(fails, F.lit(1)).otherwise(F.lit(None).cast("int")))


def failing_pages(seed: int, site, order: list[dict], epoch: int, n: int) -> list[str]:
    """``n`` leaf pages fetched in ``epoch`` of a failure-free crawl, the
    first by ``sha1(seed, url)``.  Failing pages from one mid-crawl epoch
    retry within the crawl's epochs, so every seed crawls the same number
    of epochs."""
    import hashlib

    leaves = ("detail", "detail_member", "voting")
    urls = [r["url"] for r in order if r["epoch"] == epoch and r["url"] in site and site[r["url"]].kind in leaves]
    urls.sort(key=lambda u: hashlib.sha1(f"{seed}|{u}".encode()).hexdigest())
    return urls[:n]
