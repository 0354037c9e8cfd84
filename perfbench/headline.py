"""Workload ``headline``: pinned registry queries over a generated
catalog, each built with ``REGISTRY[name].fn(spark, data_dir)`` and
written to the ``noop`` sink, serially, once per query in a fresh
session.

The plans and operators do nearly all the work and nothing is written,
so the twelve plan modules measured act as each other's control group: a
change to one module's plans should leave the other modules' seconds
and jobs flat.

The catalog comes from one of ``DATA_SEEDS`` generator seeds
(``--seed`` modulo ``DATA_SEEDS``), so every result is checked against
an order-insensitive value digest recorded once per data seed in
``digests.json`` (see ``record_digests.py``).
"""

from __future__ import annotations

import gc
import json
import os

from perfbench import gen
from perfbench.common import (
    Ctx, geomean, median_or_zero, span_total, spans_named, warm_engine,
)

#: The measured queries, in run order, with the plan module each lives
#: in: one per plan module of the headline set. The corpus, graph and
#: text picks are the headline queries with the most build-time Spark
#: jobs; the dedup pick chooses its join strategy from a real row
#: count; the embedding pick is the product-quantization scoring path;
#: the mining pick is the a-priori pair count over line items; the
#: multimodal pick decodes audio blobs in Python workers; relational,
#: tpch, stats, lakehouse and timeseries are cheap controls. Twelve,
#: not all fifty headline queries: a cold pass over the fifty takes
#: longer than a whole run may.
QUERIES: tuple[tuple[str, str], ...] = (
    ("rollup_entity", "relational"),
    ("top_unshipped_orders", "tpch"),
    ("distribution_moments", "stats"),
    ("fellegi_sunter_part_linkage", "dedup"),
    ("training_corpus", "corpus"),
    ("pq_adc_topk", "embedding"),
    ("bpe_merge_induction", "text"),
    ("incremental_rollup_maintenance", "lakehouse"),
    ("nation_trade_pagerank", "graph"),
    ("frequent_part_pairs", "mining"),
    ("multimodal_wav_rms", "multimodal"),
    ("frequent_event_sequences", "timeseries"),
)
TINY_QUERIES = ("rollup_entity", "distribution_moments", "frequent_event_sequences")
MODULES = tuple(dict.fromkeys(m for _, m in QUERIES))
DATA_SEEDS = 4
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def data_seed(seed: int) -> int:
    return seed % DATA_SEEDS


def observed(df):
    """``df`` with its row count and value hash (the canonical form of
    ``tools/agghash.py``) observed on the way to the sink: the output
    check then costs no second execution of the query."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tools.agghash import _SPARK_H64, _row_expr, _spark_kind

    row = _row_expr([(f.name, _spark_kind(f.dataType)) for f in df.schema.fields], "spark")
    h64 = _SPARK_H64.replace("__h", f"md5({row})")
    obs = Observation()
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr(f"coalesce(sum({h64}), CAST(0 AS DECIMAL(20,0)))").alias("h"),
    ), obs


def run_query(spark, tracer, name: str, module: str, data_dir: str):
    """Build one registry query and write it to the noop sink; return
    the observation of its output digest."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    with tracer.span(f"plans.{module}.s", op=name), tracer.span(f"q.{name}.s"):
        with tracer.span("plans.build_s"):
            df = REGISTRY[name].fn(spark, data_dir)
        with tracer.span("plans.action_s"):
            out, obs = observed(df)
            out.write.format("noop").mode("overwrite").save()
    return obs


def run(ctx: Ctx) -> None:
    ds = data_seed(ctx.seed)
    data_dir = os.path.join(ctx.work, "catalog")
    tables = ctx.generate(gen.write_catalog, data_dir, ds)
    ctx.detail["input"] = {
        "data_seed": ds,
        "sf": gen.CATALOG_SF,
        "rows": sum(t["rows"] for t in tables.values()),
        "bytes": sum(t["bytes"] for t in tables.values()),
    }
    with open(DIGESTS) as fh:
        expected = json.load(fh)[str(ds)]
    names = TINY_QUERIES if ctx.tiny else tuple(q for q, _ in QUERIES)
    modules = dict(QUERIES)

    warm_engine(ctx.spark, ctx.work)
    for name in names:
        obs, sec = ctx.timed(
            "query",
            lambda: run_query(ctx.spark, ctx.tracer, name, modules[name], data_dir),
        )
        if obs is not None:
            want = expected[name]

            def check():
                got = [int(obs.get["n"]), int(obs.get["h"])]
                return got == [want["rows"], want["hash"]], f"{name}: {got} != {want}"

            ctx.check("query", sec, check)
        gc.collect()
    ctx.detail["queries"] = names


def figures(ctx: Ctx) -> dict:
    """The workload's own end-to-end figures."""
    q = [op.seconds for op in ctx.ops if op.timed]
    return {"headline_total_s": sum(q), "headline_geomean_s": geomean(q) if q else None}


def layer_metrics(ctx: Ctx) -> dict[str, float]:
    """Per pass: seconds and counts summed over the measured queries."""
    tr = ctx.tracer
    out: dict[str, float] = {}
    out["plans.build_s"] = span_total(tr, "plans.build_s")
    out["plans.action_s"] = span_total(tr, "plans.action_s")
    out["plans.jobs_build"] = span_total(tr, "plans.build_s", "jobs")
    out["plans.jobs_action"] = span_total(tr, "plans.action_s", "jobs")
    for attr in ("stages", "tasks", "failed_tasks"):
        out[f"plans.{attr}"] = sum(span_total(tr, f"plans.{m}.s", attr) for m in MODULES)
    for m in MODULES:
        out[f"plans.{m}.s"] = span_total(tr, f"plans.{m}.s")
        out[f"plans.{m}.jobs"] = span_total(tr, f"plans.{m}.s", "jobs")
    for q, _ in QUERIES:
        out[f"q.{q}.s"] = median_or_zero(s.seconds for s in spans_named(tr, f"q.{q}.s"))
    return out
