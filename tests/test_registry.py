"""Registry contract sanity: the driver consumes queries()/oracle_sql()
and bench.py's HEADLINE list blindly — breakage here fails the round
before any query even runs."""

from __future__ import annotations

import json
import re

from bench import HEADLINE, summarize
from covid19_etl_pipeline_spark.plans.queries import REGISTRY


def test_headline_queries_all_registered():
    missing = [n for n in HEADLINE if n not in REGISTRY]
    assert not missing, missing


def test_bench_summary_is_per_query_min_of_passes():
    """Three passes at the widest 2dp time below 1000s: each query's
    minimum sits in a different pass, and the printed line still fits
    a 1750-char tail capture."""
    passes = [
        ({n: 999.99 - 0.01 * i if i % 3 == p else 999.99 for i, n in enumerate(HEADLINE)}, 12345.6 + p)
        for p in range(3)
    ]
    doc = summarize(passes, "0.1")
    mins = {n: round(999.99 - 0.01 * i, 2) for i, n in enumerate(HEADLINE)}
    assert doc["queries"] == mins
    assert abs(doc["value"] - sum(mins.values())) < 1e-6
    assert doc["n"] == len(HEADLINE) and doc["sf"] == 0.1
    assert doc["passes"] == [
        {"total": round(sum(t.values()), 3), "steal": s} for t, s in passes
    ]
    assert doc["host_cpu_steal_sec"] == 12345.6
    assert len(json.dumps(doc, separators=(",", ":"))) <= 1750


def test_registry_entries_well_formed():
    for name, spec in REGISTRY.items():
        assert spec.fn is not None, name
        assert spec.description and len(spec.description) > 20, name
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


def test_oracles_only_reference_catalog_tables():
    """Oracle FROM/JOIN targets must be catalog views (or CTE names
    defined in the same statement) — a typo'd table name would error
    only at driver time otherwise."""
    catalog = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        ctes = set(re.findall(r"(?i)\b([a-z_][a-z0-9_]*)\s*(?:\([a-z0-9_,\s]*\))?\s+AS\s*\(", spec.oracle))
        targets = re.findall(r"(?i)\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", spec.oracle)
        unknown = [t for t in targets if t.lower() not in catalog and t not in ctes]
        assert not unknown, (name, unknown)


def test_plans_modules_stay_under_size_cap():
    """No plans/*.py module may exceed ~2,500 lines (r05 verdict #7):
    the r03 registry was an 18k-LoC monolith that made review and
    navigation impractical; it was split into per-family modules in
    r04 and this cap keeps any single family from regrowing it. A
    family that hits the cap splits (as dedup/similarity already
    did), it does not grow."""
    import os

    import covid19_etl_pipeline_spark.plans as plans

    cap = 2500
    plans_dir = os.path.dirname(plans.__file__)
    oversize = {}
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(plans_dir, fname)) as fh:
            n = sum(1 for _ in fh)
        if n > cap:
            oversize[fname] = n
    assert not oversize, (
        f"plans modules over the {cap}-line cap (split the family): "
        f"{oversize}"
    )


def test_registry_order_is_canonical():
    """REGISTRY iteration order must equal the pinned canonical order
    EXACTLY (plans/_order.py). The driver's sampling and cross-round
    artifact diffs key off names, but order stability removes a
    variable — and this guard forces every new query to be pinned
    rather than silently appended in module-import order."""
    from covid19_etl_pipeline_spark.plans._order import CANONICAL_ORDER

    assert list(REGISTRY) == CANONICAL_ORDER
