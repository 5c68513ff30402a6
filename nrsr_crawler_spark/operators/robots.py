"""robots.txt rule evaluation as a frontier filter (north_star).

The reference disables robots (`ROBOTSTXT_OBEY = False`,
/root/reference/nrsr/settings.py:22), so the DEFAULT ruleset is permissive —
matching reference behavior — but the engine evaluates rules properly when
given them (FIXTURES.md §4 restrictive variant).

Semantics (standard REP): per host (for a matching user-agent), the longest
matching ``path_prefix`` wins; ``allow`` beats ``disallow`` at equal length;
no matching rule ⇒ allowed.

Two implementations:
 - ``allowed_expr`` — rules compiled on the driver into ONE boolean column
   expression (a when-chain ordered by specificity).  Zero shuffle, zero
   join; right whenever the ruleset fits on the driver (a handful of hosts —
   the reference's case: one host).
 - ``allowed_join`` — broadcast join + per-candidate argmax for rule tables
   too large to inline (millions of hosts); groups on ``url_hash`` (unique
   per candidate post-dedup), so skew follows the hash, not the host.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

RULES_SCHEMA = "host string, user_agent string, rule string, path_prefix string, crawl_delay double"


def _match_ua(rule_ua: str, user_agent: str) -> bool:
    return rule_ua == "*" or rule_ua == user_agent


def allowed_expr(
    rules: list[dict],
    url_col: Column,
    host_col: Column,
    user_agent: str = "*",
) -> Column:
    """Boolean 'allowed' expression from a driver-side ruleset."""
    path = F.coalesce(F.try_parse_url(url_col, F.lit("PATH")), F.lit("/"))
    # specificity order: longest prefix first; allow before disallow on ties
    ordered = sorted(
        (r for r in rules if _match_ua(r["user_agent"], user_agent)),
        key=lambda r: (-len(r["path_prefix"]), 0 if r["rule"] == "allow" else 1),
    )
    expr: Column = F.lit(True)  # no matching rule ⇒ allowed
    for r in reversed(ordered):
        hit = (host_col == r["host"]) & path.startswith(r["path_prefix"])
        expr = F.when(hit, F.lit(r["rule"] == "allow")).otherwise(expr)
    return expr


def allowed_join(
    candidates: DataFrame,
    rules: DataFrame,
    url_col: str = "canon_url",
    host_col: str = "host",
    user_agent: str = "*",
) -> DataFrame:
    """Keep only allowed candidates; for large rule tables."""
    path = F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    cand = candidates.withColumn("__path", path)
    r = (
        rules.filter(F.col("user_agent").isin(user_agent, "*"))
        .select(
            F.col("host").alias("__rhost"),
            F.col("rule").alias("__rule"),
            F.col("path_prefix").alias("__prefix"),
        )
    )
    m = cand.join(broadcast(r), F.col(host_col) == F.col("__rhost"), "left").withColumn(
        "__hit", F.col("__prefix").isNotNull() & F.col("__path").startswith(F.col("__prefix"))
    )
    verdict = (
        m.groupBy("url_hash")
        .agg(
            F.max(
                F.when(
                    F.col("__hit"),
                    F.struct(
                        F.length("__prefix").alias("l"),
                        (F.col("__rule") == "allow").alias("a"),
                    ),
                )
            ).alias("best")
        )
        .withColumn("__allowed", F.col("best").isNull() | F.col("best.a"))
    )
    return (
        candidates.join(verdict.filter(F.col("__allowed")).select("url_hash"), "url_hash", "left_semi")
    )


def crawl_delay_budgets(
    rules: list[dict],
    epoch_seconds: float,
    default_budget: int,
    user_agent: str = "*",
) -> dict[str, int]:
    """Per-host pop budgets from robots ``Crawl-delay`` (REP extension; the
    reference hard-codes the equivalent ``DOWNLOAD_DELAY = 2.5`` +
    ``CONCURRENT_REQUESTS_PER_IP = 1`` — /root/reference/nrsr/settings.py:30-33).

    A host whose matching-UA group declares delay δ can absorb at most
    ⌊epoch_seconds/δ⌋ serialized fetches per epoch; the budget is that,
    capped by ``default_budget`` and floored at 1 (a sub-1 rate still gets
    one slot per epoch so the crawl provably drains — the pacing below one
    fetch/epoch belongs to the streaming pacer, not the batch pop).
    Conservative on conflict: the LARGEST declared delay for the host wins.
    """
    delays: dict[str, float] = {}
    for r in rules:
        d = r.get("crawl_delay")
        if d and _match_ua(r["user_agent"], user_agent):
            delays[r["host"]] = max(delays.get(r["host"], 0.0), float(d))
    return {
        h: max(1, min(default_budget, int(epoch_seconds // d))) for h, d in delays.items()
    }


def budget_expr(host_budgets: dict[str, int], default_budget: int, host_col: Column) -> Column:
    """Per-host budget as ONE driver-compiled map-lookup Column (zero
    shuffle, zero join; right whenever the budgets fit on the driver):
    ``coalesce(element_at(map, host), default)``.  The map is a literal, so
    the plan stays flat at any host count, where a when-chain nests one
    level per host and overflows the planner's stack at ~1000 hosts.
    Constant within a host, as ``politeness.pop_budget`` requires."""
    pairs = [F.lit(x) for h, b in sorted(host_budgets.items()) for x in (h, b)]
    return F.coalesce(F.element_at(F.create_map(*pairs), host_col), F.lit(default_budget))
