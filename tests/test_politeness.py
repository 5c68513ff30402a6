"""Two-level salted budget pop must be byte-identical to the naive
single-window top-k (operators/politeness.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nrsr_crawler_spark.operators.politeness import pop_budget, pop_order


def _frontier(spark, n=5000, hosts=3):
    # heavy skew: 90% of rows on host 0 (the single-domain reference shape)
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("www.nrsr.sk"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % hosts).cast("string")))
        .alias("host"),
        (F.col("id") % 4).alias("priority"),
        F.col("id").alias("seq"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )


def test_pop_budget_matches_naive(spark):
    fr = _frontier(spark)
    budget = 17
    got = pop_budget(fr, budget=budget).select("host", "seq", "rk")
    w = Window.partitionBy("host").orderBy(*pop_order())
    naive = (
        fr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= budget)
        .select("host", "seq", "rk")
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_budget_never_exceeded(spark):
    fr = _frontier(spark)
    counts = pop_budget(fr, budget=5).groupBy("host").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_pop_budget_matches_naive_randomized(spark):
    """Fuzzed equivalence: random skew/priorities/duplicate seqs (ties broken
    by url_hash as an explicit tiebreak), several budgets and salt counts —
    the two-level decomposition must never diverge from the naive window."""
    import random

    rnd = random.Random(0xC0FFEE)
    for trial in range(4):
        n = rnd.choice([200, 1500, 4000])
        n_hosts = rnd.choice([1, 2, 7])
        budget = rnd.choice([1, 3, 29])
        num_salts = rnd.choice([2, 16])
        rows = [
            (
                f"h{rnd.randrange(n_hosts)}",
                rnd.randrange(3),
                rnd.randrange(n // 2),  # duplicate seqs → real ties
                rnd.getrandbits(63),
            )
            for _ in range(n)
        ]
        fr = spark.createDataFrame(
            rows, "host string, priority int, seq long, url_hash long"
        )
        tiebreak = [F.col("url_hash")]
        got = pop_budget(
            fr, budget=budget, num_salts=num_salts, tiebreak=tiebreak
        ).select("host", "seq", "url_hash", "rk")
        w = Window.partitionBy("host").orderBy(*(pop_order() + tiebreak))
        naive = (
            fr.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= budget)
            .select("host", "seq", "url_hash", "rk")
        )
        diff = got.exceptAll(naive).count() + naive.exceptAll(got).count()
        assert diff == 0, (trial, n, n_hosts, budget, num_salts)


def test_pop_budget_slim_matches_full(spark):
    """Shuffle-lean variant: identical winner set + ranks, full row payload
    carried back by the broadcast rejoin, and the window exchanges must NOT
    ship the wide payload columns."""
    from nrsr_crawler_spark.operators.politeness import pop_budget_slim

    fr = _frontier(spark).withColumn(
        "canon_url", F.concat(F.lit("https://www.nrsr.sk/web/x?id="), F.col("seq"))
    ).withColumn("payload", F.repeat(F.lit("z"), 50))
    full = pop_budget(fr, budget=9, tiebreak=[F.col("url_hash")])
    slim = pop_budget_slim(fr, budget=9, tiebreak_cols=["url_hash"])
    a = sorted(map(repr, full.select("host", "seq", "rk", "canon_url", "payload").collect()))
    b = sorted(map(repr, slim.select("host", "seq", "rk", "canon_url", "payload").collect()))
    assert a == b and len(a) > 0

    plan = slim._jdf.queryExecution().executedPlan().toString()
    # winners come back via broadcast, not another big-side exchange
    assert "BroadcastHashJoin" in plan
    # the window sort operates on the slim projection: no payload strings
    import re

    window_sections = [s for s in plan.split("Window") if "windowspecdefinition" in s.lower()]
    for sec in re.findall(r"Sort \[[^\]]*\]", plan):
        if "priority" in sec:  # the pop-order sorts
            assert "payload" not in sec and "canon_url" not in sec


def test_pop_budget_per_host_column_matches_naive(spark):
    """Per-host budget column (robots Crawl-delay) must equal the naive
    per-host window with the same CASE budget."""
    from nrsr_crawler_spark.operators import robots

    fr = _frontier(spark)
    budgets = {"www.nrsr.sk": 3, "h1": 7}
    bcol = robots.budget_expr(budgets, 5, F.col("host"))
    got = pop_budget(fr, budget=bcol).select("host", "seq", "rk")
    w = Window.partitionBy("host").orderBy(*pop_order())
    naive = (
        fr.withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.when(F.col("host") == "www.nrsr.sk", 3)
            .when(F.col("host") == "h1", 7)
            .otherwise(5)
        )
        .select("host", "seq", "rk")
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_budget_expr_many_hosts_matches_lookup(spark):
    """2500 per-host budgets stay one flat expression (a when-chain nests
    one level per host and overflows the planner's stack near 1000 hosts):
    the column equals a dict lookup with the default for unknown and NULL
    hosts, and the budget pop equals the naive window over a joined budget
    table."""
    from nrsr_crawler_spark.operators import robots

    n_hosts = 2500
    budgets = {f"h{i}.example": 1 + i % 4 for i in range(n_hosts)}
    bcol = robots.budget_expr(budgets, 9, F.col("host"))
    hosts = [(h,) for h in budgets] + [("unknown.example",), ("",), (None,)]
    looked_up = spark.createDataFrame(hosts, "host string").select("host", bcol.alias("b"))
    got = {r["host"]: r["b"] for r in looked_up.collect()}
    assert got == {**budgets, "unknown.example": 9, "": 9, None: 9}

    # 3 rows per known host plus 20 on an unlisted one
    known = F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string"), F.lit(".example"))
    fr = spark.range(3 * n_hosts + 20).select(
        F.when(F.col("id") < 3 * n_hosts, known).otherwise(F.lit("other.example")).alias("host"),
        (F.col("id") % 4).alias("priority"),
        F.col("id").alias("seq"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    popped = pop_budget(fr, budget=bcol).select("host", "seq", "rk")
    table = spark.createDataFrame(list(budgets.items()), "host string, b int")
    w = Window.partitionBy("host").orderBy(*pop_order())
    naive = (
        fr.join(F.broadcast(table), "host", "left")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.coalesce(F.col("b"), F.lit(9)))
        .select("host", "seq", "rk")
    )
    assert popped.exceptAll(naive).count() == 0
    assert naive.exceptAll(popped).count() == 0
    assert popped.filter(F.col("host") == "other.example").count() == 9


def test_crawl_delay_budgets_semantics():
    from nrsr_crawler_spark.operators.robots import crawl_delay_budgets

    rules = [
        {"host": "a", "user_agent": "*", "rule": "allow", "path_prefix": "/", "crawl_delay": 2.5},
        {"host": "a", "user_agent": "*", "rule": "deny", "path_prefix": "/x", "crawl_delay": 5.0},
        {"host": "b", "user_agent": "otherbot", "rule": "allow", "path_prefix": "/", "crawl_delay": 1.0},
        {"host": "c", "user_agent": "*", "rule": "allow", "path_prefix": "/", "crawl_delay": 100.0},
        {"host": "d", "user_agent": "*", "rule": "allow", "path_prefix": "/", "crawl_delay": None},
    ]
    out = crawl_delay_budgets(rules, epoch_seconds=10.0, default_budget=8)
    # a: conservative max(2.5, 5.0) → ⌊10/5⌋ = 2; b: UA mismatch → absent;
    # c: ⌊10/100⌋ = 0 floored to 1; d: no delay → absent (default applies)
    assert out == {"a": 2, "c": 1}
