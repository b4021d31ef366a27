"""Seeded input generators: the star-schema tables and the two SAR scenes.

Every generator takes the seed as an argument and returns (or writes)
plain data; the program under test only ever sees these outputs.

The tables copy the shape of the repository's synthetic star schema
(region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each, same column names and types, same
value domains) at a fixed row count, so every registry query and its
DuckDB oracle runs on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated tables (the sf0.01 shape).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _days_us(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return int(lo), int(hi)


def _dates(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = _days_us(start, end)
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return (lo + days * _DAY_US).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    retail = 900.0 + (np.arange(n) % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": _pick(rng, names, n),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": _pick(rng, _PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": retail,
    })

    n_orders = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })

    # 1..7 lines per order, numbered 1..k within the order
    k = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), k)
    starts = np.repeat(np.cumsum(k) - k, k)
    lnum = np.arange(len(okey)) - starts + 1
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(0, ROWS["part"], n)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * retail[partkey] * rng.uniform(0.02, 2.33, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
    })

    n = ROWS["events"]
    lo, hi = _days_us("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(lo, hi, n)).astype("datetime64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.clip(np.round(rng.exponential(50.0, n), 2), 0.01, None),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    n = ROWS["embeddings"]
    dim = 64
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    x = 0.15 * centers[label] + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write the seeded tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ----------------------------------------------------------------------
# SAR scenes
# ----------------------------------------------------------------------

def _smooth_field(rng, n_lines: int, n_samples: int, knots: int = 5):
    """Smooth random field in [0, 1]: bilinear upsampling of a
    ``knots`` x ``knots`` grid whose knots take the evenly spaced
    values ``(i + 0.5) / knots**2`` in an order drawn from ``rng``."""
    g = ((rng.permutation(knots * knots) + 0.5)
         / (knots * knots)).reshape(knots, knots)
    y = np.linspace(0.0, knots - 1.0, n_lines)
    x = np.linspace(0.0, knots - 1.0, n_samples)
    y0 = np.minimum(y.astype(int), knots - 2)
    x0 = np.minimum(x.astype(int), knots - 2)
    fy = (y - y0)[:, None]
    fx = (x - x0)[None, :]
    a = g[y0][:, x0]
    b = g[y0][:, x0 + 1]
    c = g[y0 + 1][:, x0]
    d = g[y0 + 1][:, x0 + 1]
    return (a * (1 - fx) + b * fx) * (1 - fy) + (c * (1 - fx) + d * fx) * fy


def _speckle(rng, shape, looks: float) -> np.ndarray:
    """Multiplicative speckle with unit mean (gamma, ``looks`` looks)."""
    return rng.gamma(looks, 1.0 / looks, shape)


def wind_scene(seed: int, n_lines: int, n_samples: int) -> dict:
    """Dual-pol scene forward-modelled from a smooth true wind field.

    Copol sigma0 comes from cmod5n and crosspol sigma0 from rs2_v2
    (``functions.gmfs.gmf_numpy``) at the true wind, times speckle;
    the ancillary wind is the true wind plus a seeded error. Returns
    flat per-pixel arrays, including the true ``wspd``/``phi``.
    """
    from xsarsea_spark.functions.gmfs import gmf_numpy

    # The inversion's cost follows the joint histogram of wind speed,
    # direction and incidence, so the field is drawn once and the seed
    # rolls it along the lines (rows share one incidence profile) and
    # draws the noise. (Drawn per seed, the field's mean wind speed
    # ranged over 10.5-11.4 m/s in seven seeds, and the kernel's cost
    # with it.)
    field = np.random.default_rng(0)
    wspd = 4.0 + 14.0 * _smooth_field(field, n_lines, n_samples)
    phi = -180.0 + 360.0 * _smooth_field(field, n_lines, n_samples)
    rng = np.random.default_rng(seed)
    roll = int(rng.integers(n_lines))
    wspd = np.roll(wspd, roll, axis=0)
    phi = np.roll(phi, roll, axis=0)                   # vs antenna, deg
    shape = (n_lines, n_samples)
    inc = np.broadcast_to(
        np.linspace(20.0, 45.0, n_samples)[None, :], shape)
    s0co = gmf_numpy("gmf_cmod5n", inc, wspd, phi) * _speckle(rng, shape, 50)
    s0cr = gmf_numpy("gmf_rs2_v2", inc, wspd) * _speckle(rng, shape, 50)
    u = wspd * np.cos(np.radians(phi))
    v = wspd * np.sin(np.radians(phi))
    line, sample = np.indices(shape)
    return {
        "line": line.ravel().astype(np.int64),
        "sample": sample.ravel().astype(np.int64),
        "incidence": np.ascontiguousarray(inc).ravel(),
        "sigma0": s0co.ravel(),
        "sigma0_cr": s0cr.ravel(),
        "dsig_cr": np.full(wspd.size, 0.1),
        "anc_re": (u + rng.normal(0.0, 1.5, shape)).ravel(),
        "anc_im": (v + rng.normal(0.0, 1.5, shape)).ravel(),
        "true_wspd": wspd.ravel(),
        "true_phi": phi.ravel(),
    }


def streak_scene(seed: int, n: int, block: int = 128) -> np.ndarray:
    """``n`` x ``n`` sigma0 image with planted wind streaks.

    Each ``block`` x ``block`` cell carries sinusoidal streaks at a
    seeded orientation and wavelength over a smooth backscatter trend,
    times speckle.
    """
    rng = np.random.default_rng(seed)
    nb = -(-n // block)
    theta = rng.uniform(0.0, np.pi, (nb, nb))
    lam = rng.uniform(8.0, 24.0, (nb, nb))
    y, x = np.indices((n, n), dtype=np.float64)
    th = np.repeat(np.repeat(theta, block, 0), block, 1)[:n, :n]
    lm = np.repeat(np.repeat(lam, block, 0), block, 1)[:n, :n]
    phase = 2.0 * np.pi * (x * np.cos(th) + y * np.sin(th)) / lm
    base = 0.02 + 0.02 * _smooth_field(rng, n, n)
    img = base * (1.0 + 0.25 * np.sin(phase)) * _speckle(rng, (n, n), 8)
    return img
