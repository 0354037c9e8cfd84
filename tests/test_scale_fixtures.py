"""Invariants of the SCALE.md §12 fixture builder
(tools/make_scale_fixtures.py): the scale measurements are only as good
as the fixture construction, so the construction is tested — k-fold row
counts, per-copy key disjointness, FK integrity in every copy, shared
dims, cross-copy-disjoint document texts with preserved token counts,
and cosine-preserving embedding rotation."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.catalog import load_table

REPO = Path(__file__).resolve().parent.parent
SRC = "/root/testdata/sf0.001"
K = 2


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfx") / f"k{K}")
    res = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "make_scale_fixtures.py"),
            "--src", SRC, "--k", str(K), "--out", out,
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stdout + res.stderr
    return out


def test_row_counts_and_key_disjointness(spark, fixture_dir):
    for name, key in (
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ):
        src = load_table(spark, SRC, name)
        out = load_table(spark, fixture_dir, name)
        assert out.count() == K * src.count(), name
        # offset keying keeps every copy's key space disjoint
        src_k = src.select(key).distinct().count()
        assert out.select(key).distinct().count() == K * src_k, name
    # shared dims are NOT multiplied
    assert load_table(spark, fixture_dir, "nation").count() == 25


def test_fk_integrity_within_every_copy(spark, fixture_dir):
    o = load_table(spark, fixture_dir, "orders")
    c = load_table(spark, fixture_dir, "customer")
    orphans = o.join(
        c, o.o_custkey == c.c_custkey, "left_anti"
    ).count()
    assert orphans == 0
    li = load_table(spark, fixture_dir, "lineitem")
    p = load_table(spark, fixture_dir, "part")
    assert li.join(p, li.l_partkey == p.p_partkey, "left_anti").count() == 0


def test_documents_salted_disjoint_with_preserved_token_counts(spark, fixture_dir):
    docs = load_table(spark, fixture_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    base = docs.filter(F.col("doc_id") < 100_000_000)
    copy = docs.filter(F.col("doc_id") >= 100_000_000).select(
        (F.col("doc_id") - 100_000_000).alias("doc_id"),
        F.col("text").alias("text2"),
    )
    j = base.join(copy, "doc_id")
    # texts differ across copies (cross-copy fingerprints disjoint) ...
    assert j.filter(F.col("text") == F.col("text2")).count() == 0
    # ... but token counts are preserved (quality gates see the same
    # distribution in every copy)
    ntok = lambda c: F.size(F.split(F.trim(c), r"\s+"))  # noqa: E731
    assert j.filter(ntok("text") != ntok("text2")).count() == 0
    # n_chars stays consistent with the salted text
    assert docs.filter(F.col("n_chars") != F.length("text")).count() == 0


def test_embeddings_rotated_norm_preserving(spark, fixture_dir):
    emb = load_table(spark, fixture_dir, "embeddings")
    norm = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    base = emb.filter(F.col("vec_id") < 100_000_000).select(
        "vec_id", norm.alias("n1"), F.col("embedding").alias("e1")
    )
    copy = emb.filter(F.col("vec_id") >= 100_000_000).select(
        (F.col("vec_id") - 100_000_000).alias("vec_id"),
        norm.alias("n2"),
        F.col("embedding").alias("e2"),
    )
    j = base.join(copy, "vec_id")
    # rotation preserves the norm exactly (same components, reordered)
    assert j.filter(F.round("n1", 6) != F.round("n2", 6)).count() == 0
    # and the copy's vectors are actually rotated, not identical
    # (rotation-invariant vectors — all-zero / all-constant — may
    # legitimately collide, so require the overwhelming majority moved)
    total = j.count()
    assert j.filter(F.col("e1") == F.col("e2")).count() < 0.05 * total


def test_parquet_bytes_counts_data_files_and_names_missing_table(tmp_path):
    """The output-file sizing walk sums ``*.parquet`` data only (no
    ``_SUCCESS``/``.crc`` sidecars) and a missing table fails with an
    error naming the table and the --src dir."""
    from tools.make_scale_fixtures import parquet_bytes

    ds = tmp_path / "orders.parquet"
    ds.mkdir()
    (ds / "part-0.parquet").write_bytes(b"x" * 10)
    (ds / "part-1.parquet").write_bytes(b"x" * 5)
    (ds / "_SUCCESS").write_bytes(b"")
    (ds / ".part-0.parquet.crc").write_bytes(b"x" * 100)
    (tmp_path / "region.parquet").write_bytes(b"x" * 7)
    assert parquet_bytes(str(tmp_path), "orders") == 15
    assert parquet_bytes(str(tmp_path), "region") == 7
    missing = rf"'lineitem'.*{re.escape(str(tmp_path))}"
    with pytest.raises(FileNotFoundError, match=missing):
        parquet_bytes(str(tmp_path), "lineitem")
