"""Output checks: every annual and monthly row of the climate pipeline
against a numpy recomputation from the generated arrays, and each mix
query's result against its DuckDB twin from ``oracle_sql()``.

A check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

from perfbench.inputs import VARS, ClimateInputs

SUMS = ("pr", "ETo", "Rs")
MEANS = ("Tmax", "Tmin", "RH", "VPD", "u2")
# The engine rounds each aggregate to 2 places; the float64 reference is
# unrounded, so a correct value lies within half a unit of the 2nd place.
ROUND_TOL = 0.005 + 1e-6


def expected_climate(ci: ClimateInputs, monthly: bool) -> pd.DataFrame:
    """Annual or monthly aggregates per municipality, recomputed in numpy:
    sums of pr/ETo/Rs, means of Tmax/Tmin/RH/u2 and of daily VPD."""
    v = {k: ci.cell_values[k].astype(np.float64) for k in VARS}
    tm = (v["Tmax"] + v["Tmin"]) / 2.0
    v["VPD"] = 0.6108 * np.exp(17.27 * tm / (tm + 237.3)) * (1.0 - v["RH"] / 100.0)
    years = np.array([d.year for d in ci.days])
    months = np.array([d.month for d in ci.days])
    keys = sorted(set(zip(years, months))) if monthly else sorted(set(years))
    mun = ci.mun.frame
    frames = []
    for key in keys:
        sel = ((years == key[0]) & (months == key[1])) if monthly else (years == key)
        part = {"CD_MUN": mun["CD_MUN"], "NM_MUN": mun["NM_MUN"], "UF": mun["UF"],
                "year": key[0] if monthly else key}
        if monthly:
            part["month"] = key[1]
        for m in SUMS:
            part[m] = v[m][sel].sum(axis=0)
        for m in MEANS:
            part[m] = v[m][sel].mean(axis=0)
        frames.append(pd.DataFrame(part))
    return pd.concat(frames, ignore_index=True)


def read_state_csvs(path: str) -> pd.DataFrame:
    """Read a ``write_partitioned`` output (``UF=<state>/part-*.csv``)."""
    parts = []
    for d in sorted(glob.glob(os.path.join(path, "UF=*"))):
        for f in sorted(glob.glob(os.path.join(d, "part-*.csv"))):
            df = pd.read_csv(f, dtype={"CD_MUN": str, "NM_MUN": str})
            parts.append(df.assign(UF=os.path.basename(d)[3:]))
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def check_climate(ci: ClimateInputs, annual_dir: str, monthly_dir: str) -> list[str]:
    problems = []
    for label, path, monthly in (("annual", annual_dir, False),
                                 ("monthly", monthly_dir, True)):
        got = read_state_csvs(path)
        exp = expected_climate(ci, monthly)
        if got.empty:
            problems.append(f"{label}: empty output")
            continue
        keys = ["CD_MUN", "year"] + (["month"] if monthly else [])
        per_state_got = got.groupby("UF").size().to_dict()
        per_state_exp = exp.groupby("UF").size().to_dict()
        if per_state_got != per_state_exp:
            problems.append(f"{label}: rows per state {per_state_got} "
                            f"!= expected {per_state_exp}")
        both = exp.merge(got, on=keys, how="outer", suffixes=("_e", "_g"),
                         indicator=True)
        unmatched = both["_merge"] != "both"
        if unmatched.any():
            problems.append(f"{label}: {int(unmatched.sum())} rows missing or unexpected")
            both = both[~unmatched]
        for c in ("NM_MUN", "UF"):
            bad = both[c + "_e"] != both[c + "_g"]
            if bad.any():
                problems.append(f"{label}.{c}: {int(bad.sum())} rows differ")
        for m in SUMS + MEANS:
            err = (both[m + "_g"] - both[m + "_e"]).abs()
            if not (err <= ROUND_TOL).all():
                i = err.idxmax()
                problems.append(
                    f"{label}.{m}: {int((err > ROUND_TOL).sum())} rows off, worst "
                    f"{both.loc[i, keys].tolist()} got {both.loc[i, m + '_g']} "
                    f"expected {both.loc[i, m + '_e']:.6f}")
    return problems


def check_query(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The repository's own parity comparison (row count, columns, dtype
    family, values; floats within 1e-9 relative), plus a non-empty guard so
    a vacuous match does not pass."""
    from tests.oracle_harness import compare_frames

    if got.empty:
        return [f"{name}: empty result"]
    return compare_frames(got, want, name)
