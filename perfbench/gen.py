"""Seeded input generator: the driver-shaped tables the program reads.

Writes one Parquet file per table (``region`` .. ``embeddings``) into a
directory whose schemas match the driver tables the program is built
for (TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``). The program's own ``synthetic_*`` SQL then derives the
OSM-shaped nodes/ways, the image points and the rectangles from them.

The base tables are a fixed function of the scale factor. The seed
picks two things, as ``bench_experiments/make_sf5x.py`` does:

- a key shift applied to every fact-table key (foreign keys shifted
  consistently, so every join keeps its structure). The geo derivations
  hash the keys modulo small primes, so a shift moves every node, way
  and image to another place and another tag bucket;
- a row-order permutation of every fact table.

``region`` and ``nation`` stay unshifted: ``nation`` keys place the 25
rectangle fixtures and ``region`` keys give the id<=0 staging-edge
nodes. The same seed and scale always give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: rows per table at scale factor 1.0 (the driver tables scale linearly
#: except ``documents`` and ``embeddings``, which are capped below)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}

_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_PART_ADJ = "blue hot small old red new cold large".split()
_PART_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
_SEGMENTS = "HOUSEHOLD MACHINERY AUTOMOBILE BUILDING FURNITURE".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
_EVENTS = "click signup error view purchase".split()
_LANGS = np.array(["en"] * 3 + ["es", "zh", "de", "fr"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: seed of the base tables; the run's own seed only shifts and permutes
_BASE_SEED = 42
#: key shift unit: keeps shifted keys far from the +1_000_000 offsets
#: the curation queries add to build their injected duplicate copies
_SHIFT_UNIT = 10_000_000
#: integer keys per fact table, shifted together (foreign keys included)
_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def row_counts(sf: float) -> dict[str, int]:
    n = {t: max(10, int(round(r * sf))) for t, r in _BASE_ROWS.items()}
    n["documents"] = min(5000, max(500, int(round(50_000 * sf))))
    n["embeddings"] = min(2000, max(500, int(round(20_000 * sf))))
    return n


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, words, n: int) -> np.ndarray:
    return np.asarray(words, dtype=object)[rng.integers(0, len(words), n)]


def _base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(_BASE_SEED)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(_pick(rng, _PART_ADJ, npart), _pick(rng, _PART_NOUN, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    # ~4 lines per order on average, orderkeys drawn with replacement
    # (some orders get no line), line numbers 1..7 not unique per order
    nl = 4 * no
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
    })

    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(
            np.datetime64("2024-01-01", "us")
            + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, max(10, ne // 66), ne),
        "event_type": _pick(rng, _EVENTS, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    words = _pick(rng, _WORDS, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(s) for s in texts], np.int64),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    return t


def _seeded(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Shift every fact-table key by one seed-picked offset and permute
    the rows of every fact table."""
    rng = np.random.default_rng(seed)
    shift = int(rng.integers(1, 100)) * _SHIFT_UNIT
    out = dict(tables)
    for name, keys in _KEYS.items():
        t = out[name]
        for k in keys:
            t = t.set_column(t.schema.get_field_index(k), k, pc.add(t[k], shift))
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def generate(out_dir: str, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write the tables into ``out_dir``; return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in _seeded(_base_tables(sf), seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats

