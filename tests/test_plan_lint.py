"""Repo-wide plan lint as a test: every registry query's physical plan
is free of scale antipatterns (no cartesians, no row-at-a-time Python,
Arrow/BNLJ/SinglePartition only where reviewed — tools/plan_lint.py
documents each exception). Adding a query with a bad plan fails here,
not on the next 100 TB run."""

from __future__ import annotations

import sys


def test_all_query_plans_clean(spark):
    sys.path.insert(0, "tools")
    from plan_lint import lint

    problems = lint(spark, "/root/testdata/sf0.001")
    assert problems == {}, f"plan antipatterns: {problems}"


def test_lineage_cuts_only_in_partitioning():
    """``partitioning.barrier`` is the engine's only lineage cut, so
    ``CHECKPOINT_DIR_CONF`` reaches every barrier: no other module may
    call ``localCheckpoint`` or ``checkpoint`` itself."""
    import ast
    from pathlib import Path

    import covid19_etl_pipeline_spark

    root = Path(covid19_etl_pipeline_spark.__file__).parent
    allowed = root / "operators" / "partitioning.py"
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != allowed
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert offenders == [], f"lineage cuts outside partitioning.barrier: {offenders}"
