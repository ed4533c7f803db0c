"""Seeded input synthesis for the benchmark workloads.

Every input is a pure function of the seed. The climate inputs are written
with the package's own format writers (``write_netcdf4``, ``write_shp``,
``write_dbf``); the program under test receives only the files. The
generator also returns the arrays it wrote, which the output checks
recompute from.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VARS = ("Tmax", "Tmin", "pr", "RH", "ETo", "u2", "Rs")

# The 0.25° lattice grid_snap assumes, over the Legal-Amazon North box:
# lat 5.25 … -13.5 (north-up, descending), lon -73.75 … -46.0.
STEP = 0.25
LATS = 5.25 - STEP * np.arange(76)
LONS = -73.75 + STEP * np.arange(112)

STATE_PREFIX = {"RO": "11", "AC": "12", "AM": "13", "RR": "14",
                "PA": "15", "AP": "16", "TO": "17"}

# SIRGAS 2000 / Brazil Polyconic, the projection IBGE ships its municipal
# meshes in; the shapefile reader must inverse-project it (crs_min).
POLYCONIC_WKT = (
    'PROJCS["SIRGAS 2000 / Brazil Polyconic",GEOGCS["SIRGAS 2000",DATUM["D",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Polyconic"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-54],'
    'PARAMETER["false_easting",5000000],PARAMETER["false_northing",10000000],'
    'UNIT["metre",1]]'
)

# (base, spatial amplitude, seasonal amplitude, noise sd, lo, hi)
_FIELD = {
    "Tmax": (31.0, 3.0, 1.5, 1.2, 22.0, 40.0),
    "Tmin": (22.0, 2.0, 1.0, 1.0, 14.0, 28.0),
    "pr": (6.0, 4.0, 3.0, 6.0, 0.0, 80.0),
    "RH": (78.0, 8.0, 5.0, 6.0, 30.0, 100.0),
    "ETo": (3.8, 0.8, 0.5, 0.6, 0.5, 8.0),
    "u2": (1.4, 0.5, 0.2, 0.4, 0.1, 6.0),
    "Rs": (18.0, 2.5, 2.0, 3.0, 4.0, 30.0),
}


@dataclass
class Municipalities:
    """The generated dimension: one row per municipality plus the grid
    cell (index into LATS/LONS) its polygon's centroid snaps to."""

    frame: pd.DataFrame  # CD_MUN, NM_MUN, UF, lat_idx, lon_idx


def daily_fields(rng: np.random.Generator, days: np.ndarray,
                 lat: np.ndarray, lon: np.ndarray) -> dict[str, np.ndarray]:
    """float32 arrays (time, *space) per variable, where space is the
    broadcast shape of ``lat`` and ``lon``: a smooth spatial field, a
    seasonal cycle and seeded day-to-day noise, clipped to a plausible
    range."""
    doy = np.array([d.timetuple().tm_yday for d in days], dtype=np.float64)
    shape = np.broadcast_shapes(lat.shape, lon.shape)
    season = np.sin(2 * np.pi * doy / 365.25).reshape((-1,) + (1,) * len(shape))
    out = {}
    for v in VARS:
        base, amp, seas, sd, lo_clip, hi_clip = _FIELD[v]
        phase = rng.uniform(0, 2 * np.pi, size=2)
        spatial = amp * np.sin(lat / 4.0 + phase[0]) * np.cos(lon / 5.0 + phase[1])
        cube = (base + spatial + seas * season
                + sd * rng.standard_normal((len(days),) + shape))
        out[v] = np.clip(cube, lo_clip, hi_clip).astype(np.float32)
    return out


def date_range(start: dt.date, n: int) -> np.ndarray:
    return np.array([start + dt.timedelta(days=i) for i in range(n)], dtype=object)


def municipalities(rng: np.random.Generator, n: int) -> Municipalities:
    """n municipalities on distinct lattice cells, spread over the seven
    northern states (every state gets at least one)."""
    cells = rng.choice(len(LATS) * len(LONS), size=n, replace=False)
    states = list(STATE_PREFIX)
    uf = [states[i] for i in range(len(states))] + list(
        rng.choice(states, size=n - len(states)))
    frame = pd.DataFrame({
        "CD_MUN": [STATE_PREFIX[u] + f"{i:05d}" for i, u in enumerate(uf)],
        "NM_MUN": [f"Municipio {i:03d}" for i in range(n)],
        "UF": uf,
        "lat_idx": cells // len(LONS),
        "lon_idx": cells % len(LONS),
    })
    return Municipalities(frame.sort_values("CD_MUN").reset_index(drop=True))


def write_shapefile(rng: np.random.Generator, mun: Municipalities,
                    base: str) -> str:
    """Hexagon per municipality around its cell centre (jittered well inside
    the cell, so the centroid snaps unambiguously), projected to Brazil
    Polyconic; writes ``base``.shp/.dbf/.prj and returns the .shp path."""
    from amazon_climate_data_etl_spark.sources.crs_min import (
        forward_from_lonlat,
        parse_projected_prj,
    )
    from amazon_climate_data_etl_spark.sources.shapefile_min import (
        SHP_POLYGON,
        Shape,
        write_dbf,
        write_shp,
    )

    crs = parse_projected_prj(POLYCONIC_WKT)
    f = mun.frame
    cx = LONS[f["lon_idx"].to_numpy()] + rng.uniform(-0.06, 0.06, len(f))
    cy = LATS[f["lat_idx"].to_numpy()] + rng.uniform(-0.06, 0.06, len(f))
    ang = np.linspace(0, 2 * np.pi, 7)[::-1]  # clockwise shell, closed
    shapes = []
    for x, y in zip(cx, cy):
        lon = x + 0.09 * np.cos(ang)
        lat = y + 0.09 * np.sin(ang)
        px, py = forward_from_lonlat(lon, lat, crs)
        shapes.append(Shape(SHP_POLYGON, np.column_stack([px, py])))
    with open(base + ".shp", "wb") as fh:
        fh.write(write_shp(shapes))
    attrs = pd.DataFrame({"CD_MUN": f["CD_MUN"], "NM_MUN": f["NM_MUN"],
                          "SIGLA_UF": f["UF"]})
    with open(base + ".dbf", "wb") as fh:
        fh.write(write_dbf(attrs))
    with open(base + ".prj", "w") as fh:
        fh.write(POLYCONIC_WKT)
    return base + ".shp"


@dataclass
class ClimateInputs:
    days: np.ndarray                 # datetime.date per time step
    cell_values: dict[str, np.ndarray]  # var -> (time, municipality) float32
    mun: Municipalities


def raw_inputs(seed: int, root: str, start: dt.date, ndays: int,
               n_mun: int) -> tuple[ClimateInputs, str, str]:
    """pipeline_raw: 7 NetCDF-4 files (float32, chunked, deflate+shuffle)
    over the full lattice plus the municipality shapefile. Returns the
    values the checks need, the NetCDF directory and the .shp path."""
    from amazon_climate_data_etl_spark.sources.netcdf4_min import write_netcdf4
    from amazon_climate_data_etl_spark.sources.netcdf_classic import NcFile, NcVar

    rng = np.random.default_rng(seed)
    days = date_range(start, ndays)
    fields = daily_fields(rng, days, LATS[:, None], LONS[None, :])
    mun = municipalities(rng, n_mun)
    nc_dir = os.path.join(root, "netcdf")
    os.makedirs(nc_dir)
    tvals = np.arange(ndays, dtype=np.float64)
    for v in VARS:
        nc = NcFile(
            dims={"time": ndays, "lat": len(LATS), "lon": len(LONS)},
            variables={
                "time": NcVar("time", ("time",), tvals,
                              {"units": f"days since {start.isoformat()}",
                               "calendar": "standard"}),
                "lat": NcVar("lat", ("lat",), LATS),
                "lon": NcVar("lon", ("lon",), LONS),
                v: NcVar(v, ("time", "lat", "lon"), fields[v]),
            },
        )
        blob = write_netcdf4(nc, layout="chunked", compress=True, shuffle=True,
                             chunks={v: (min(ndays, 30), 38, 56)})
        with open(os.path.join(nc_dir, f"{v}.nc"), "wb") as fh:
            fh.write(blob)
    shp = write_shapefile(rng, mun, os.path.join(root, "municipios"))
    li, lo = mun.frame["lat_idx"].to_numpy(), mun.frame["lon_idx"].to_numpy()
    cells = {v: fields[v][:, li, lo] for v in VARS}
    return ClimateInputs(days, cells, mun), nc_dir, shp


_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
_PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "new", "old")
_PART_NOUN = ("widget", "gear", "bolt", "ring", "plate", "rod", "gizmo", "anvil")
_PART_TYPE = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _write(table: pa.Table, root: str, name: str) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def mix_tables(seed: int, root: str, scale: int) -> str:
    """query_mix: the star-schema, corpus, embedding and event tables the
    mix's queries read, in the layout ``catalog.load_table`` expects
    (``<root>/<name>.parquet``). ``scale`` is the document count; the
    other tables scale with it (lineitem 120x, events 20x, part 4x,
    supplier 1/5), so ``scale=500`` gives the row counts of the
    repository's sf0.01 test tables. The column schemas, vocabulary and
    distributions follow those tables; perfbench/README.md lists the
    measured shape of both side by side."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)

    # documents: 10-99 words from a 31-word vocabulary; 5% are copies of
    # an earlier document with one word appended, so ~9% of documents
    # have a near-duplicate partner.
    n = scale
    texts = [" ".join(rng.choice(_WORDS, size=rng.integers(10, 100)))
             for _ in range(n)]
    dups = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for d in dups:
        texts[d] = texts[rng.integers(0, d)] + " dup"
    langs, p = zip(*_LANGS)
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, size=n, p=p),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), root, "documents")

    # embeddings: unit-norm 64-d float32 vectors with a 0-9 label
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }), root, "embeddings")

    # events: time-ordered over January 2024
    ne = 20 * n
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 1), ne).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"],
                                 size=ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), root, "events")

    # part / supplier / lineitem
    n_part, n_supp, n_li = 4 * n, max(n // 5, 1), 120 * n
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPE, size=n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), root, "part")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), root, "supplier")
    ship0 = np.datetime64("1995-01-02", "D")
    ship_days = rng.integers(0, (np.datetime64("2001-11-04", "D") - ship0).astype(int) + 1,
                             n_li)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_li // 4, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
        "l_linestatus": rng.choice(["F", "O"], size=n_li),
        "l_shipdate": pa.array((ship0 + ship_days).astype("datetime64[us]"),
                               pa.timestamp("us")),
    }), root, "lineitem")
    return root
