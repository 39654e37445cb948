"""robots.txt politeness filtering for crawl pipelines: parse per-host
rule files, then decide every URL with Google-documented semantics —
the longest matching path prefix wins, Allow beats Disallow on a tie,
and no matching rule means allowed.

Two-stage shape chosen for scale: the PARSE is a Python kernel over
the hosts frame (robots files are small and host-count-sized — ~1 row
per domain, millions not billions), while the per-URL MATCH — the
corpus-sized side — is pure JVM: an equi-join on host, a startswith
prefix filter, and one window argmax per URL. The URL table never
passes through Python.

Group semantics implemented (the subset the spec and major crawlers
agree on): consecutive User-agent lines open a group; Allow/Disallow
lines attach to the open group; comments (#) and blank lines ignored;
an empty Disallow value is a no-op ("allow all"); a group matching the
agent EXACTLY shadows the '*' groups entirely (most-specific-group
rule). Regex wildcards ('*', '$') inside rule paths are out of scope —
documented simplification; prefixes match literally.

Reference analog: none (north-star web-pipeline surface, SURVEY §7.5)
— pairs with sources/warc.py (ingestion) and llm/text.py:normalize_url
(frontier dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels

__all__ = ["parse_robots", "robots_rules", "robots_filter"]


def parse_robots(text: str, agent: str = "*") -> list[tuple[str, bool]]:
    """robots.txt → [(path_prefix, allow)] for `agent`. Exact-agent
    groups shadow '*' groups; empty rule values are no-ops."""
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    agents: list[str] = []
    rules: list[tuple[str, bool]] = []
    last_was_agent = False

    def flush() -> None:
        nonlocal agents, rules
        if agents:
            groups.append((agents, rules))
        agents, rules = [], []

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not last_was_agent:
                flush()
            agents.append(val.lower())
            last_was_agent = True
        else:
            last_was_agent = False
            if key in ("allow", "disallow") and val:
                rules.append((val, key == "allow"))
    flush()
    a = agent.lower()
    # Shadowing keys on group EXISTENCE, not on a non-empty rule list
    # (code-review r4c): an exact-agent group whose only content is
    # Crawl-delay or an empty Disallow still means "these are your
    # rules: none" — falling through to '*' would wrongly apply the
    # generic Disallows to the named agent.
    exact_groups = [rs for ags, rs in groups if a in ags]
    if exact_groups:
        return [r for rs in exact_groups for r in rs]
    return [r for ags, rs in groups if "*" in ags for r in rs]


def robots_rules(
    df: DataFrame,
    *,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, robots_txt) → exploded rule rows (host, prefix, allow,
    rule_len) via the scaffold's explode — the broadcast-sized side
    of robots_filter. Hosts whose file yields no applicable rules (or
    is NULL) emit nothing (no rule ⇒ allowed, decided at match time)."""
    return kernels.explode(
        df.select(F.col(host_col).alias("host"), F.col(robots_col).alias("robots_txt")),
        lambda txt: [(p, a, len(p)) for p, a in parse_robots(str(txt), agent)],
        [
            ("host", T.StringType(), None),
            ("prefix", T.StringType(), None),
            ("allow", T.BooleanType(), None),
            ("rule_len", T.IntegerType(), "int32"),
        ],
        inputs=("robots_txt",),
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    *,
    url_col: str = "url",
) -> DataFrame:
    """Decide every URL against the rule table: adds (host, path,
    allowed, matched_prefix, matched_len). Longest matching prefix
    wins, Allow beats Disallow at equal length (the window orders
    rule_len DESC, allow DESC, prefix ASC — totally deterministic),
    URLs with no matching rule or unknown host are allowed.

    The `urls` frame must be row-unique (its columns are the argmax
    partition key — a frontier table keyed by doc/url id always is);
    duplicate rows would collapse to one decision row.

    Plan: normalize_url/url_host derive (host, path) JVM-side, one
    equi-join on host (broadcast the rule table when it is dim-sized —
    AQE decides), a startswith residual, one row_number window
    partitioned by the URL key. The corpus side crosses the exchange
    once; nothing URL-sized touches Python."""
    from ..llm.text import URL_RE, normalize_url

    u = urls.withColumn("__norm", normalize_url(F.col(url_col)))
    # host comes from the ALREADY-normalized column (its authority is
    # lowercased and port-stripped) — url_host(raw) would re-run the
    # whole normalize chain per row (code-review r4c).
    u = u.withColumn(
        "__host", F.regexp_extract(F.col("__norm"), URL_RE, 2)
    ).withColumn(
        "__path",
        F.when(
            F.regexp_extract(F.col("__norm"), URL_RE, 3) == "", F.lit("/")
        ).otherwise(F.regexp_extract(F.col("__norm"), URL_RE, 3)),
    )
    r = rules.select(
        F.col("host").alias("__host"),
        F.col("prefix"),
        F.col("allow"),
        F.col("rule_len"),
    )
    cand = u.join(r, "__host", "left").withColumn(
        "__hit",
        F.col("prefix").isNotNull() & F.col("__path").startswith(F.col("prefix")),
    )
    w = Window.partitionBy(*urls.columns).orderBy(
        F.col("__hit").desc(),
        F.col("rule_len").desc_nulls_last(),
        F.col("allow").desc_nulls_last(),
        F.col("prefix").asc_nulls_last(),
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(c) for c in urls.columns],
            F.col("__host").alias("host"),
            F.col("__path").alias("path"),
            F.when(F.col("__hit"), F.col("allow")).otherwise(F.lit(True)).alias("allowed"),
            F.when(F.col("__hit"), F.col("prefix")).otherwise(F.lit("")).alias("matched_prefix"),
            F.when(F.col("__hit"), F.col("rule_len")).otherwise(F.lit(0)).alias("matched_len"),
        )
    )
    return best
