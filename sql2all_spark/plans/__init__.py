"""Physical-plan introspection helpers.

The reference has no plan IR at all (SURVEY.md §3: SQL string → driver rows
→ Arrow batches); in this engine Catalyst owns planning, and these helpers
make its decisions inspectable/assertable — used by the plan-audit tests to
pin scan pushdown, broadcast choices, and aggregation shape, and available
to users debugging a slow query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def _indent(line: str) -> int:
    """Depth of a plan line = chars of tree furniture before the operator."""
    return len(line) - len(line.lstrip(" :+-*()0123456789="))


def _count_exchanges(lines: list[str], seen_caches: set[str]) -> int:
    import re

    out = 0
    i = 0
    while i < len(lines):
        line = lines[i]
        if "== Initial Plan ==" in line:
            # everything after is AQE's unexecuted pre-adaptive duplicate
            break
        if "InMemoryRelation" in line:
            # explain re-prints a cached build plan under EVERY consumer;
            # the build executes once per cache fill, so count each
            # distinct cache (expr-ids stripped from the signature) once
            sig = re.sub(r"#\d+L?", "", line).strip()
            ind = _indent(line)
            j = i + 1
            seg = []
            while j < len(lines) and _indent(lines[j]) > ind:
                seg.append(lines[j])
                j += 1
            if sig not in seen_caches:
                seen_caches.add(sig)
                out += _count_exchanges(seg, seen_caches)
            i = j
            continue
        if (
            "Exchange hashpartitioning" in line
            or "Exchange rangepartitioning" in line
        ):
            out += 1
        i += 1
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges that would execute — the scale-limiting
    resource.  Counts plan-tree occurrences, with two display artifacts
    corrected: a cached InMemoryRelation's build plan (re-printed under
    every consumer, executed once per cache fill) is counted once per
    distinct cache, and AQE's ``== Initial Plan ==`` section (the
    unexecuted pre-adaptive duplicate) is ignored."""
    return _count_exchanges(physical_plan(df).splitlines(), set())
