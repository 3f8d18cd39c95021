"""robots.txt gating (RFC 9309 subset).

The reference has no robots handling at all — its semaphore is its only
courtesy — so semantics here come from RFC 9309 (SURVEY.md §4.4, flagged
as new surface): longest-match rule wins between Allow and Disallow
groups for ``User-agent: *``; empty Disallow value allows everything; a
domain with no robots row is fully allowed (§2.3.1.2: unavailable →
unrestricted). '*' wildcards and '$' anchors are supported.

One matcher, :class:`RobotsMatcher`, holds the rule: both deliveries of
the gate call it. A rules table of up to ``ROBOTS_BROADCAST_MAX`` rows
is parsed once into one matcher, broadcast, and applied inside a pandas
UDF; a larger one is cogrouped with the frontier by domain, and each
domain's group builds its matcher from its own rows
(:class:`RobotsGate`). A domain with more than one rules row is
rejected with ``ValueError`` by either delivery.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_robots(body: str) -> list[tuple[bool, str]]:
    """Extract (allow, path_pattern) rules for ``User-agent: *`` groups.

    A group is one or more consecutive User-agent lines followed by rule
    lines; the first rule line closes the agent list (RFC 9309 §2.2.1).
    """
    rules: list[tuple[bool, str]] = []
    group_agents: list[str] = []
    in_agent_list = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field_, value = line.split(":", 1)
        field_ = field_.strip().lower()
        value = value.strip()
        if field_ == "user-agent":
            if not in_agent_list:
                group_agents = []
                in_agent_list = True
            group_agents.append(value.lower())
        elif field_ in ("allow", "disallow"):
            in_agent_list = False
            if "*" in group_agents:
                if field_ == "disallow" and value == "":
                    continue  # empty Disallow = no restriction
                rules.append((field_ == "allow", value))
        else:
            in_agent_list = False
    return rules


def _compile(pattern: str) -> re.Pattern[str]:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "$":
            out.append("$")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out))


class RobotsMatcher:
    """Per-domain compiled rule set; picklable for broadcast. The one
    matcher of both gate deliveries (broadcast UDF and cogroup)."""

    def __init__(self, rows: Iterable[tuple[str, str]]):
        # rows: (domain, robots_body); one row per domain, since two
        # rows would make the gate's verdict depend on row order
        self.rules: dict[str, list[tuple[bool, str]]] = {}
        for domain, body in rows:
            if domain in self.rules:
                raise ValueError(
                    f"more than one robots rules row for domain {domain!r}")
            self.rules[domain] = parse_robots(body)
        self._compiled: dict[str, list[tuple[bool, int, re.Pattern[str]]]] = {}

    def _get(self, domain: str):
        if domain not in self._compiled:
            self._compiled[domain] = [
                (allow, len(pat), _compile(pat))
                for allow, pat in self.rules.get(domain, [])
            ]
        return self._compiled[domain]

    def allowed(self, domain: str, url: str) -> bool:
        """Longest-match winner between Allow/Disallow (RFC 9309
        §2.2.2); a domain without rules is fully allowed."""
        compiled = self._get(domain)
        if not compiled:
            return True
        parts = urlsplit(url)
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        best_len = -1
        best_allow = True
        for allow, plen, rx in compiled:
            if rx.match(path) and plen > best_len:
                best_len = plen
                best_allow = allow
        return best_allow


def robots_annotate_cogroup(
    frontier: DataFrame,
    robots: DataFrame,
    *,
    url_col: str = "url_canon",
    domain_col: str = "domain",
    out_col: str = "__allowed",
) -> DataFrame:
    """Scale-path robots gate: cogroup the frontier with the rules table
    on domain — NO driver collect, NO whole-table broadcast.

    At a million-domain robots table the broadcast matcher is a driver
    OOM; cogrouping ships each task exactly the rule rows of the
    domains it holds, and each domain's group builds a
    :class:`RobotsMatcher` from its rows (compiled once per domain). Costs one shuffle of the
    (narrow) frontier by domain — which the politeness window needs
    anyway. Adds boolean ``out_col``.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        frontier.schema.fields + [StructField(out_col, BooleanType())])
    in_cols = [f.name for f in frontier.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=[*in_cols, out_col])
        m = RobotsMatcher(zip(right["domain"], right["rules"]))
        left[out_col] = [m.allowed(d, u)
                         for d, u in zip(left[domain_col], left[url_col])]
        return left

    return (frontier.groupBy(domain_col)
            .cogroup(robots.groupBy("domain"))
            .applyInPandas(probe, out_schema))


# rule-row count up to which the gate collects the table and broadcasts
# one compiled matcher; above it the rules cogroup with the frontier (a
# million-domain rules table must never be collected to the driver)
ROBOTS_BROADCAST_MAX = 100_000


class RobotsGate:
    """The robots gate of one crawl run, built once per run.

    Picks the delivery from a LIMIT'd count of the rules table (an
    O(threshold) scan, no driver materialization): up to
    ``ROBOTS_BROADCAST_MAX`` rows it collects the table and broadcasts
    the compiled matcher ONCE for the whole run — the matcher is
    constant across rounds, and a per-round broadcast would re-pickle
    and re-ship it every round; above it every round cogroups the
    frontier with the rules (:func:`robots_annotate_cogroup`).
    ``robots`` schema: (domain string, rules string).
    """

    def __init__(self, robots: DataFrame):
        self._rules: DataFrame | None = None
        self._bc = None
        if (robots.limit(ROBOTS_BROADCAST_MAX + 1).count()
                > ROBOTS_BROADCAST_MAX):
            self._rules = robots
        else:
            matcher = RobotsMatcher(
                [(r["domain"], r["rules"]) for r in robots.collect()])
            self._bc = robots.sparkSession.sparkContext.broadcast(matcher)

    def annotate(self, frontier: DataFrame) -> DataFrame:
        """Add boolean ``__allowed`` to a frame with ``domain`` and
        ``url_canon`` columns."""
        if self._rules is not None:
            return robots_annotate_cogroup(frontier, self._rules)
        bc = self._bc

        @F.pandas_udf("boolean")
        def allowed_udf(domains: pd.Series, urls: pd.Series) -> pd.Series:
            m = bc.value
            return pd.Series([m.allowed(d, u) for d, u in zip(domains, urls)],
                             dtype=bool)

        return frontier.withColumn(
            "__allowed", allowed_udf(F.col("domain"), F.col("url_canon")))

    def release(self) -> None:
        """Release the matcher broadcast. Call once no live plan holds
        the gate (frames written to parquet no longer do)."""
        if self._bc is not None:
            self._bc.unpersist()
            self._bc = None


__all__ = ["parse_robots", "RobotsMatcher", "RobotsGate",
           "ROBOTS_BROADCAST_MAX", "robots_annotate_cogroup"]
