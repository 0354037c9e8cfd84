"""Seeded input generators. The program under test receives only the
files written here; the same seed always writes the same bytes.

- :func:`write_catalog` writes the ten catalog tables the registry
  queries read (TPC-H-ish star plus events, documents, embeddings),
  with the column names, types and value domains of the engine's
  test catalog, at scale factor :data:`CATALOG_SF` (sized like the
  ``sf*`` fixtures).
- :func:`write_owid_csv` writes an OWID-shaped CSV in the 8 columns of
  ``COVID_RAW_SCHEMA``, with a seeded share (:data:`BLANK_SHARE`) of blank numeric cells, and
  returns what the generator knows about it (rows, bytes, locations,
  dates) for the output checks.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "gizmo", "bolt", "gear", "ring", "plate", "rod", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "the a join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMB_DIM = 64
EMB_CLUSTERS = 10
#: the catalog's scale factor (sf=0.01 would give 1,500 customers,
#: 15,000 orders and 60,000 line items)
CATALOG_SF = 0.002
#: the share of the OWID CSV's numeric cells left blank
BLANK_SHARE = 0.03
#: the OWID CSV's first date
OWID_START = dt.date(2020, 1, 1)


def _ts(days_from: dt.date, offsets_us: np.ndarray) -> pa.Array:
    """Naive timestamps: ``days_from`` midnight plus the offsets."""
    base = (days_from - dt.date(1970, 1, 1)).days * 86_400_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, span, n) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor :data:`CATALOG_SF`."""
    sf = CATALOG_SF
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(20, n_cust // 10)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2_400, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2_500, n_line),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(dt.date(2024, 1, 1), rng.integers(0, 30 * 86_400_000_000, n_evt)),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_catalog(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``;
    return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, table in catalog_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def write_owid_csv(path: str, seed: int, n_locations: int, n_days: int) -> dict:
    """Write an OWID-shaped CSV (header + one row per location and day,
    columns in ``COVID_RAW_SCHEMA`` order). Cumulative columns are
    monotone per location; a seeded :data:`BLANK_SHARE` of the numeric
    cells are blank. Returns rows, bytes, the location list and the
    date range."""
    rng = np.random.default_rng(seed)
    locs = [(f"Country_{i:04d}", f"C{i:04d}") for i in range(n_locations)]
    dates = [(OWID_START + dt.timedelta(days=d)).isoformat() for d in range(n_days)]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write("location,iso_code,date,total_cases,total_deaths,new_cases,new_deaths,population\n")
        for name, iso in locs:
            pop = int(rng.integers(100_000, 300_000_000))
            scale = rng.uniform(0.0001, 0.002) * pop / 100
            new_c = np.floor(rng.exponential(scale, n_days))
            new_d = np.floor(new_c * rng.uniform(0.0, 0.03, n_days))
            tot_c, tot_d = np.cumsum(new_c), np.cumsum(new_d)
            cols = np.stack([tot_c, tot_d, new_c, new_d]).astype(np.int64).astype(str)
            cols[rng.random(cols.shape) < BLANK_SHARE] = ""
            prefix = f"{name},{iso},"
            fh.write("".join(
                f"{prefix}{dates[d]},{cols[0, d]},{cols[1, d]},{cols[2, d]},{cols[3, d]},{pop}\n"
                for d in range(n_days)
            ))
    return {
        "rows": n_locations * n_days,
        "bytes": os.path.getsize(path),
        "locations": locs,
        "first_date": dates[0],
        "last_date": dates[-1],
    }
