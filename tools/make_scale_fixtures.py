"""Build a k-times-scaled derivative of an sf dir for the SCALE.md §12
curvature spot-bench (r04 verdict #6). NEVER touches /root/testdata —
writes to --out (default /tmp/spark_graft_sfx{k}).

Construction: each fact table cross-joined with a k-row copy index
(ONE compact plan at any k — a k-way unionByName chain blows up plan
analysis around k~100), key columns offset by copy * 1e8 with foreign
keys offset in lockstep so referential integrity holds within every
copy. The global dimensions (region, nation) are shared, as they would
be at any scale.

Copy independence is engineered so the measured queries scale by
ENGINE cost, not by data-structure artifacts:

- documents: every 2nd token gets a copy-specific suffix, so cross-copy
  shingle/fingerprint spaces are DISJOINT — naive replication would
  hand every document k-1 exact duplicates and inflate near-dup pair
  counts quadratically (a property of the synthetic data, not of the
  engine). Token counts are unchanged and ~half the stopword signal
  survives, so quality gates behave identically in every copy. The
  baseline (k=1) is built through the SAME transform, so the two
  scales compare like with like.
- embeddings: vectors are component-rotated by copy % 64 — within-copy
  cosine structure is exactly preserved, cross-copy cosines are
  scrambled (no artificial cross-copy near-duplicates).

Usage:
  python tools/make_scale_fixtures.py [--src /root/testdata/sf0.1]
      [--k 10] [--out /tmp/spark_graft_sfx10]
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

#: key columns to offset per copy, per table (FKs in lockstep)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SHARED_DIMS = ("region", "nation")
OFFSET = 100_000_000
EMB_DIM = 64
COPY = "__copy"


def salt_documents(df):
    toks = F.split(F.trim(F.col("text")), r"\s+")
    salted = F.concat_ws(
        " ",
        F.transform(
            toks,
            lambda x, j: F.when(
                j % 2 == 1,
                F.concat(x, F.lit("zq"), F.col(COPY).cast("string")),
            ).otherwise(x),
        ),
    )
    return df.withColumn("text", salted).withColumn(
        "n_chars", F.length("text")
    )


def rotate_embeddings(df):
    r = F.col(COPY) % EMB_DIM
    emb = F.col("embedding")
    rotated = F.concat(
        F.slice(emb, r + 1, F.lit(EMB_DIM) - r), F.slice(emb, F.lit(1), r)
    )
    return df.withColumn(
        "embedding", F.when(r == 0, emb).otherwise(rotated)
    )


def parquet_bytes(src: str, name: str) -> int:
    """Bytes of table ``name``'s parquet data under ``src``: the file
    itself, or every ``*.parquet`` file of a dataset dir (its
    ``_SUCCESS``/``.crc`` sidecars are not data)."""
    path = os.path.join(src, f"{name}.parquet")
    files = [path] if os.path.isfile(path) else glob.glob(
        f"{path}/**/*.parquet", recursive=True
    )
    if not files:
        raise FileNotFoundError(f"table {name!r} has no parquet data in --src {src}")
    return sum(map(os.path.getsize, files))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--src", default="/root/testdata/sf0.1")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    out = args.out or f"/tmp/spark_graft_sfx{args.k}"
    if os.path.realpath(out).startswith("/root/testdata"):
        sys.exit("refusing to write under /root/testdata")

    # every table checked before the session starts: a missing one
    # fails here, naming itself, not halfway through the writes
    src_bytes = {name: parquet_bytes(args.src, name) for name in (*SHARED_DIMS, *KEYED)}

    from covid19_etl_pipeline_spark.catalog import load_table
    from covid19_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="make-scale-fixtures",
        extra_conf={"spark.driver.memory": "16g"},
    )
    os.makedirs(out, exist_ok=True)

    for name in SHARED_DIMS:
        load_table(spark, args.src, name).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
        print(f"{name}: copied", flush=True)

    copies = spark.range(args.k).withColumnRenamed("id", COPY)
    for name, keys in KEYED.items():
        df = load_table(spark, args.src, name).crossJoin(F.broadcast(copies))
        for kcol in keys:
            df = df.withColumn(kcol, F.col(kcol) + F.col(COPY) * OFFSET)
        if name == "documents":
            df = salt_documents(df)
        elif name == "embeddings":
            df = rotate_embeddings(df)
        # Output file sizing (r12, guide §6): the crossJoin inherits the
        # single-split source scan, so every fixture table used to land
        # as ONE file with 1-7 row groups — and parquet splits cannot
        # cross row groups, so every ×10/×100 sweep SCAN started as a
        # 1-3-task straggler (measured: a single task spent ~290s doing
        # scan + tokenize-filter + shuffle-write of the ×100 documents
        # table while 31 cores idled). Target ~32 MB/file derived from
        # the source size × k, floored at the core count — real deploys
        # get thousands of splits; the fixture should not be the one
        # place the engine reads a giant unsplittable row group.
        n_files = max(
            os.cpu_count() or 8, -(-src_bytes[name] * args.k // (32 * 1024 * 1024))
        )
        df.drop(COPY).repartition(int(n_files)).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
        print(f"{name}: x{args.k} in {int(n_files)} files", flush=True)

    spark.stop()
    print(f"wrote {out}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
