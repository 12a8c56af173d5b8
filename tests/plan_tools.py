"""Physical-plan helpers shared by the plan-shape tests."""

from __future__ import annotations


def plan_has_exchange(df) -> bool:
    """True if the physical plan contains a shuffle Exchange (broadcast
    exchanges excluded)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(line.strip().startswith(("Exchange", "+- Exchange",
                                        ":- Exchange"))
               or "Exchange hashpartitioning" in line
               for line in plan.splitlines()
               if "BroadcastExchange" not in line)
