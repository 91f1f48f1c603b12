"""Independent reference computations the benchmark checks outputs against.

Written without the package's code paths: routing follows the documented
sink rules (the same table tests/test_pipeline.py checks against), and
wildcard search is plain Python ``re`` over the raw input texts."""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterable

_TOOL_TAGS = {
    "bash": "sh",
    "search": "web",
    "browser": "web",
    "editor": "fs",
    "scheduler": "cron",
}
_ROLE_SINKS = {"user": "chat", "assistant": "chat", "system": "ops"}


def route_sink(role: str | None, tool: str | None) -> str:
    if role == "tool":
        return f"tools.{_TOOL_TAGS.get(tool, 'unknown')}"
    return _ROLE_SINKS.get(role, "ops")


def routed_counts(roles: Iterable[str | None], tools: Iterable[str | None]) -> dict[str, int]:
    """Rows per sink for turns with these (role, tool) columns."""
    return dict(Counter(map(route_sink, roles, tools)))


def wildcard_regex(query: str) -> re.Pattern:
    """CLP wildcard query -> regex matched with ``fullmatch``: ``*`` is any
    run of characters, ``?`` exactly one, everything else literal."""
    body = "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in query
    )
    return re.compile(body)


def count_matches(query: str, texts: Iterable[str | None]) -> int:
    pattern = wildcard_regex(query)
    return sum(1 for t in texts if t is not None and pattern.fullmatch(t))


def expected_hits(query: str | dict[str, str], texts: list[str | None]) -> int:
    """What ``search_run(...).count()`` must return: rows matching the
    query, or for a ``{name: query}`` map one row per (row, matching name)."""
    if isinstance(query, dict):
        return sum(count_matches(q, texts) for q in query.values())
    return count_matches(query, texts)
