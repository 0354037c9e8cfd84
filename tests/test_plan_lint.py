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


def test_parquet_reads_only_in_sources_io():
    """``sources.io.read_parquet`` binds every read's schema from the
    footer, so no Spark job runs to infer it: no other module may call
    ``<x>.read.parquet(`` itself. A reader whose schema is already
    bound (``<x>.read.schema(...).parquet(``) is allowed."""
    import ast
    from pathlib import Path

    import covid19_etl_pipeline_spark

    root = Path(covid19_etl_pipeline_spark.__file__).parent
    allowed = root / "sources" / "io.py"
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != allowed
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
    ]
    assert offenders == [], f"schema-inferring parquet reads outside sources.io: {offenders}"


# Public names that only tests call, each kept for the reason given.
ENTRY_POINTS = {
    "operators.projection.select_rename": "P1: the engine's only allowlist select-and-rename",
    "pipeline.transform_vaccination_data": "the reference's vaccination transform (data_transformer.py:178-217)",
    "catalog.table_stats": "S10: the row count per table (print_database_stats)",
    "config.build_registry": "S2: the reference's source registry",
    "dashboard.write_dashboard": "the BI layer's entry point",
    "serving.write_jdbc": "S8: the hand-off to an external database",
    "serving.read_jdbc": "S8: the read half of the external-database hand-off",
    "serving.rollback_version": "the operator half of the versioned store vacuum_versions prunes",
    "serving.list_versions": "the operator half of the versioned store vacuum_versions prunes",
    "operators.dedup.minhash_value": "the batch reference the streaming near-dup probe test compares against",
}


def test_public_names_have_a_caller():
    """Every public top-level def or class in the package is referenced
    outside ``tests/`` (registry queries count as called), or is one of
    the ``ENTRY_POINTS`` kept for a stated reason."""
    import ast
    from pathlib import Path

    import covid19_etl_pipeline_spark

    pkg = Path(covid19_etl_pipeline_spark.__file__).parent
    repo = pkg.parent
    callers = [
        *pkg.rglob("*.py"),
        *(repo / "tools").glob("*.py"),
        *(repo / "dags").glob("*.py"),
        *(repo / "perfbench").glob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    # A bare name counts only in the module that defines it: elsewhere a
    # local variable could share it. Imports count by the imported name,
    # so ``from … import vacuum_versions as _vacuum`` references vacuum_versions.
    referenced = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        own = {n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in own:
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])

    def registered(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_register"
            for d in node.decorator_list
        )

    uncalled = sorted(
        f"{'.'.join(path.relative_to(pkg).with_suffix('').parts)}.{node.name}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not registered(node)
        and node.name not in referenced
    )
    assert uncalled == sorted(ENTRY_POINTS), (
        f"public names with no caller outside tests: "
        f"{sorted(set(uncalled) - set(ENTRY_POINTS))}; "
        f"entry points that gained a caller: {sorted(set(ENTRY_POINTS) - set(uncalled))}"
    )
