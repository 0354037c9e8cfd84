"""Record the expected output digests of the ``headline`` workload.

    python3 perfbench/record_digests.py [--work DIR]

For every data seed, generate the catalog, run each measured query on
Spark and its DuckDB twin, and store ``(rows, hash)`` in the canonical
order-insensitive form of ``tools/agghash.py``. A digest's ``source``
is ``duckdb`` when the twin finished and agreed with Spark, and
``engine`` when the twin did not finish in time (the Spark result is
then the reference). When the twin's hash differs, the two results are
compared row by row: ``engine-rounding`` means every value agrees but
floats that differ by at most one unit in the 4th decimal (half-way
ties of a rounded sum, broken differently by the two engines'
summation order); any other difference stops the recording: the engine
is wrong, and no digest is written for it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, headline  # noqa: E402
from perfbench.run import prepare_env, start_spark, stop_spark  # noqa: E402

#: a twin still running after this long leaves the engine as the reference
DUCK_TIMEOUT_S = 120.0


def duck_digest(sql: str, data_dir: str, timeout: float):
    """(rows, hash) from the DuckDB twin, or None if it ran out of time."""
    import duckdb

    from covid19_etl_pipeline_spark.catalog import TABLES, table_path
    from tools.agghash import duck_agg_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return list(duck_agg_hash(con.cursor(), sql))
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def _rows(rows) -> list[tuple]:
    """Rows sorted on a key that a last-digit float difference keeps."""
    def key(v):
        return f"{v:.2f}" if isinstance(v, float) else str(v)

    return sorted((tuple(r) for r in rows), key=lambda r: tuple(map(key, r)))


def close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1.5e-4
    return str(a) == str(b)


def same_but_rounding(spark_df, sql: str, data_dir: str) -> bool:
    """Whether Spark and the DuckDB twin agree up to float rounding ties."""
    import duckdb

    from covid19_etl_pipeline_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    twin = _rows(cur.fetchall())
    con.close()
    mine = _rows(spark_df.select(*names).collect())
    return len(mine) == len(twin) and all(
        close(x, y) for r, t in zip(mine, twin) for x, y in zip(r, t)
    )


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work", "digests"))
    args = p.parse_args()
    os.makedirs(args.work, exist_ok=True)
    prepare_env(args.work)
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY
    from tools.agghash import spark_agg_hash

    spark = start_spark(args.work)
    out: dict[str, dict] = {}
    try:
        for ds in range(headline.DATA_SEEDS):
            data_dir = os.path.join(args.work, f"catalog{ds}")
            gen.write_catalog(data_dir, ds)
            out[str(ds)] = {}
            for name, _ in headline.QUERIES:
                df = REGISTRY[name].fn(spark, data_dir)
                got = list(spark_agg_hash(df))
                twin = duck_digest(REGISTRY[name].oracle, data_dir, DUCK_TIMEOUT_S)
                if twin is None:
                    source = "engine"
                elif twin == got:
                    source = "duckdb"
                elif same_but_rounding(df, REGISTRY[name].oracle, data_dir):
                    source = "engine-rounding"
                else:
                    print(f"seed {ds} {name}: spark {got} != duckdb {twin}", file=sys.stderr)
                    return 1
                out[str(ds)][name] = {"rows": got[0], "hash": got[1], "source": source}
                print(ds, name, got, source, flush=True)
            shutil.rmtree(data_dir)
    finally:
        stop_spark(spark)
    with open(headline.DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
