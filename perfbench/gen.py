"""Seeded input generators for the benchmark.

``tables(sf, seed, out_dir)`` writes the ten parquet tables the query
registry reads (TPC-H-shaped star schema plus events, documents and
embeddings), one row group per file. ``wallet_csv(rows, seed, path)`` writes
one landing-zone wallet CSV in the reference's shape: ``dd/MM/yyyy`` dates,
zero-padded codes, mixed-case brands, negative ``dias_atraso`` covering the
-29/-30/-31 and -89/-90/-91 bucket edges, and mostly-null ``dt_reneg``.

The same (size, seed) always produces byte-identical files. Run as a script
to generate into a directory:

    python3 perfbench/gen.py tables <sf> <seed> <out_dir>
    python3 perfbench/gen.py wallet <rows> <seed> <out_csv>
"""

from __future__ import annotations

import datetime as dt
import json
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_EPOCH = dt.datetime(1970, 1, 1)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.01: 60k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    us = (base + rng.integers(0, span + 1, n)).astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; each table draws from its own stream so
    adding a column to one leaves the others unchanged."""
    n = table_rows(sf)
    rng = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, k = rng["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": _names("Customer", k),
        "c_nationkey": r.integers(0, 25, k).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, k)],
    })

    r, k = rng["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": _names("Supplier", k),
        "s_nationkey": r.integers(0, 25, k).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r, k = rng["part"], n["part"]
    keys = np.arange(k, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r, k = rng["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": r.integers(0, n["customer"], k),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), 2404, k),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, k)],
    })

    r, k = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k),
        "l_partkey": r.integers(0, n["part"], k),
        "l_suppkey": r.integers(0, n["supplier"], k),
        "l_linenumber": r.integers(1, 8, k).astype("int32"),
        "l_quantity": r.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _days(r, dt.date(1995, 1, 2), 2497, k),
    })

    r, k = rng["events"], n["events"]
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    offsets = np.sort(r.integers(0, 30 * 86_400_000_000, k))
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": pa.array(start_us + offsets, pa.timestamp("us")),
        "user_id": r.integers(0, max(10, int(15_000 * sf)), k),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r, k = rng["documents"], n["documents"]
    texts: list[str] = []
    for _ in range(k):
        if texts and r.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), int(r.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, k, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{s}" for s in r.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    r, k = rng["embeddings"], n["embeddings"]
    centroids = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, k)
    vecs = centroids[labels] + r.normal(0.0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return out


def tables(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    counts = {}
    for name, t in make_tables(sf, seed).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=max(1, t.num_rows))
        counts[name] = t.num_rows
    return counts


WALLET_HEADER = (
    "empresa,marca,empreendimento,cliente,regional,obra,bloco,unidade,dt_venda,dt_chaves,"
    "carteira_sd_gerencial,saldo_devedor,data_base,total_atraso,faixa_de_atraso,dias_atraso,"
    "valor_pago_atualizado,valor_pago,status,dt_reneg,descosn,vaga,vgv"
)
_BRANDS = ["CYRELA", "Cyrela", "cyrela", "LIVING", "Living", "VIVAZ", "Vivaz", "vivaz"]
# Bucket edges of the delinquency CASE (>= -30 -> 0, >= -90 -> 1, else 2).
_EDGE_DAYS = [-29, -30, -31, -89, -90, -91]


def _ddmmyyyy(days: np.ndarray) -> list[str]:
    base = dt.date(1970, 1, 1)
    return [(base + dt.timedelta(days=int(d))).strftime("%d/%m/%Y") for d in days]


def wallet_lines(rows: int, seed: int) -> list[str]:
    """Header plus ``rows`` data lines. The first data row is the one the
    reference's ``header=1`` read drops, so the bucket-edge rows start at
    the second."""
    r = np.random.default_rng([seed, 1000])
    empresas = r.choice(np.arange(100, 3165), 60, replace=False)
    obras = r.choice(np.arange(1, 9931), 76, replace=False)
    projects = [f"Residencial Vila São {chr(65 + i % 26)}{i} Nº {i}" for i in range(76)]
    proj = r.integers(0, 76, rows)
    saldo = _money(r, 1_000.0, 13_000_000.0, rows)
    pago_at = np.round(saldo * r.uniform(0.0, 0.9, rows), 2)
    pago = np.round(pago_at * r.uniform(0.5, 1.0, rows), 2)
    vgv = np.round(saldo * r.uniform(1.0, 1.55, rows), 2)
    atraso = -r.integers(1, 1159, rows)
    atraso[1 : 1 + len(_EDGE_DAYS)] = _EDGE_DAYS[: max(0, rows - 1)]
    d0 = (dt.date(2010, 1, 1) - dt.date(1970, 1, 1)).days
    venda = _ddmmyyyy(d0 + r.integers(0, 4100, rows))
    month_firsts = [dt.date(2019 + i // 12, i % 12 + 1, 1).strftime("%d/%m/%Y") for i in range(40)]
    chaves = np.array(month_firsts)[r.integers(0, 40, rows)]
    reneg_days = _ddmmyyyy(d0 + r.integers(0, 4100, rows))
    has_reneg = r.random(rows) < 0.1
    lines = [WALLET_HEADER]
    for i in range(rows):
        lines.append(",".join((
            f"{empresas[i % 60]:04d}",
            _BRANDS[int(r.integers(0, len(_BRANDS)))],
            projects[proj[i]],
            f"CLIENTE {i}",
            "São Paulo",
            str(obras[proj[i]]),
            f"{int(r.integers(1, 5)):02d}",
            f"{int(r.integers(1, 2305)):06d}",
            venda[i],
            chaves[i],
            str(int(round(saldo[i]))),
            repr(float(saldo[i])),
            "30/04/2021",
            "0",
            "0",
            str(int(atraso[i])),
            repr(float(pago_at[i])),
            repr(float(pago[i])),
            "",
            reneg_days[i] if has_reneg[i] else "",
            "",
            "",
            repr(float(vgv[i])),
        )))
    return lines


def wallet_csv(rows: int, seed: int, path: str) -> int:
    """Write the landing CSV; returns its size in bytes."""
    data = ("\n".join(wallet_lines(rows, seed)) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


if __name__ == "__main__":
    kind, size, seed, dest = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
    if kind == "tables":
        print(json.dumps(tables(float(size), seed, dest)))
    elif kind == "wallet":
        print(wallet_csv(int(size), seed, dest))
    else:
        raise SystemExit(f"unknown generator {kind!r}: expected 'tables' or 'wallet'")
