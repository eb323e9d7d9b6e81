"""Plan-shape helper for tests: count operators in a plan TREE, not
substrings of its string form.

Works on any JVM plan node (physical or logical). It looks through the
adaptive-execution wrappers — ``AdaptiveSparkPlanExec`` and the query
stages — so an executed AQE plan yields the operators that actually
ran; a ``ReusedExchangeExec`` is a leaf, so a reused subtree is counted
once.
"""

from __future__ import annotations


def node_name(node) -> str:
    return node.getClass().getSimpleName()


def seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def output_names(node) -> list[str]:
    return [a.name() for a in seq(node.output())]


def plan_nodes(plan, stop=None) -> list:
    """Pre-order list of the nodes of ``plan``. A node for which
    ``stop(node)`` is true is listed but its subtree is not."""
    nodes, todo = [], [plan]
    while todo:
        n = todo.pop()
        name = node_name(n)
        if name == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(n.plan())
            continue
        nodes.append(n)
        if stop is not None and stop(n):
            continue
        todo.extend(reversed(seq(n.children())))
    return nodes


def count_nodes(plan, name: str, stop=None) -> int:
    """Number of ``name`` (simple class name) nodes in ``plan``."""
    return sum(node_name(n) == name for n in plan_nodes(plan, stop))


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan()
