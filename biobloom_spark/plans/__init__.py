"""Plan-audit helpers: keep the physical plans scale-shaped.

The engine's scale guarantees are properties of the *plan*, not the code:
categorize must stay a single zero-shuffle map pass (broadcast filters),
the sizing pre-pass must prune columns down to (key, text) at the scan,
LSH joins must never degenerate into cartesian products.  These helpers
make those properties assertable in tests so a refactor that silently adds
an Exchange or drops a pushed filter fails CI instead of melting a
1000-executor run.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame

__all__ = [
    "plan_string",
    "count_exchanges",
    "assert_no_shuffle",
    "assert_max_shuffles",
    "assert_no_cartesian",
    "scan_read_schema",
]


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (``df.explain`` captures)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded — those are the cheap, wanted kind)."""
    return _shuffle_count(df)


def assert_no_shuffle(df: DataFrame, what: str = "plan") -> None:
    """Fail if the plan contains any shuffle exchange (map-side-only
    contract, e.g. categorize: broadcast probe, corpus moves zero times)."""
    n = _shuffle_count(df)
    if n:
        raise AssertionError(
            f"{what}: expected a shuffle-free plan, found {n} exchange(s):\n"
            + plan_string(df, "simple")
        )


def assert_max_shuffles(df: DataFrame, limit: int, what: str = "plan") -> None:
    """Fail if the plan shuffles more than ``limit`` times (e.g. the
    Bloom build shuffles only its two partial-row exchanges)."""
    n = _shuffle_count(df)
    if n > limit:
        raise AssertionError(
            f"{what}: expected <= {limit} shuffle(s), found {n}:\n"
            + plan_string(df, "simple")
        )


def assert_no_cartesian(df: DataFrame, what: str = "plan") -> None:
    """Fail on CartesianProduct / BroadcastNestedLoopJoin — the all-pairs
    degeneration every bucketed candidate-join here is designed to avoid."""
    plan = plan_string(df, "simple")
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        raise AssertionError(f"{what}: plan contains an all-pairs join:\n{plan}")


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names reaching the (first) file scan — asserts column
    pruning: a 2-column projection must not read 10 columns."""
    plan = plan_string(df, "formatted")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [part.split(":")[0].strip() for part in m.group(1).split(",") if part.strip()]


def _shuffle_count(df: DataFrame) -> int:
    plan = plan_string(df, "simple")
    return len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange RoundRobinPartitioning", plan))
