"""NetCDF-4 (HDF5 container) → the same NcFile model as classic NetCDF.

The netCDF-4 format maps the classic data model onto HDF5 (publicly
specified in the netCDF User Guide "NetCDF-4 Format" appendix):

- every dimension is an HDF5 *dimension scale* dataset carrying a
  ``CLASS = "DIMENSION_SCALE"`` attribute (coordinate variables double as
  their dimension's scale; dimensions without a coordinate variable get a
  placeholder dataset whose ``NAME`` attribute starts with
  ``"This is a netCDF dimension but not a netCDF variable."``);
- every data variable carries a ``DIMENSION_LIST`` attribute — a
  variable-length array of object references, one per axis, pointing at
  the scale datasets — which is how axis order is recovered.

``read_netcdf4`` decodes that structure from raw bytes via the minimal
HDF5 reader (``hdf5_min.py``) and returns the ``NcFile`` the classic
decoder returns, including CF unpacking (``_FillValue`` → NaN, then
``scale_factor`` / ``add_offset``), so everything downstream of
``read_classic`` — coordinate probing, time decode, clipping, the
distributed mapInPandas ingest — is shared verbatim between formats.

``write_netcdf4`` emits the same structure (either libhdf5 flavor, with
contiguous or shuffled+deflated chunked storage) so tests can roundtrip
REAL NetCDF-4 bytes with no libraries in the container.
"""

from __future__ import annotations

import numpy as np

from amazon_climate_data_etl_spark.sources.hdf5_min import (
    DimList,
    H5WriteSpec,
    read_hdf5,
    write_hdf5,
)
from amazon_climate_data_etl_spark.sources.netcdf_classic import (
    NcFile,
    NcVar,
    apply_cf_packing,
)

_PHONY_DIM_PREFIX = "This is a netCDF dimension but not a netCDF variable"
# attributes that encode netCDF-4 structure rather than user metadata
_STRUCTURAL_ATTRS = {
    "CLASS", "NAME", "DIMENSION_LIST", "REFERENCE_LIST", "_Netcdf4Dimid",
    "_Netcdf4Coordinates",
}


def read_netcdf4(content: bytes) -> NcFile:
    """Parse NetCDF-4/HDF5 bytes into dims + variables (root group)."""
    datasets = read_hdf5(content)
    if any("/" in name for name in datasets):
        raise NotImplementedError(
            "NetCDF-4 groups are not supported "
            "(root-group variables only)"
        )
    # dimension scales: name -> size, plus address -> name for the
    # DIMENSION_LIST reference resolution
    scales = {
        name: ds
        for name, ds in datasets.items()
        if ds.attrs.get("CLASS") == "DIMENSION_SCALE"
    }
    dims = {name: (ds.shape[0] if ds.shape else 1) for name, ds in scales.items()}
    addr_to_dim = {ds.address: name for name, ds in scales.items()}

    variables: dict[str, NcVar] = {}
    for name, ds in datasets.items():
        nc4_name = ds.attrs.get("NAME")
        if isinstance(nc4_name, str) and nc4_name.startswith(_PHONY_DIM_PREFIX):
            continue  # dimension placeholder, not a variable
        if ds.dim_addresses is not None:
            var_dims = tuple(addr_to_dim[a] for a in ds.dim_addresses)
        elif name in scales and len(ds.shape) == 1:
            var_dims = (name,)  # a coordinate variable is its own scale
        else:
            var_dims = _dims_by_shape(name, ds.shape, dims)
        attrs = {k: v for k, v in ds.attrs.items() if k not in _STRUCTURAL_ATTRS}
        data = apply_cf_packing(ds.data, attrs)
        variables[name] = NcVar(name, var_dims, np.ascontiguousarray(data), attrs)
    return NcFile(dims=dims, variables=variables)


def _dims_by_shape(name, shape, dims) -> tuple[str, ...]:
    """Fallback axis naming when a variable has no DIMENSION_LIST: match
    each axis length against the dimension sizes; ambiguous (two dims of
    equal size, e.g. a square lat×lon grid) or unmatched lengths fail
    loudly rather than guessing axis order."""
    out = []
    for ln in shape:
        matches = [d for d, s in dims.items() if s == ln]
        if len(matches) != 1:
            raise NotImplementedError(
                f"variable {name!r}: cannot infer dimension for axis of "
                f"length {ln} without a DIMENSION_LIST ({len(matches)} "
                "candidate dims)"
            )
        out.append(matches[0])
    return tuple(out)


def write_netcdf4(
    nc: NcFile,
    superblock: int = 0,
    layout: str = "contiguous",
    compress: bool = False,
    shuffle: bool = False,
    chunks: dict[str, tuple[int, ...]] | None = None,
    chunk_index: str = "btree1",
    dense_attrs: bool = False,
    dense_links: bool = False,
    fletcher32: bool = False,
) -> bytes:
    """Serialize an NcFile as a NetCDF-4/HDF5 file (fixture generation;
    inverse of ``read_netcdf4`` on the supported subset). ``dense_*``
    emit the HDF5 ≥1.10 fractal-heap attribute/link storage (superblock 2
    only) — the H5F_LIBVER_LATEST shape."""
    dim_names = list(nc.dims)
    specs: list[H5WriteSpec] = []
    # dimension scales first: coordinate variables where one exists, else
    # the netCDF placeholder dataset
    for i, d in enumerate(dim_names):
        v = nc.variables.get(d)
        scale_attrs = {
            "CLASS": "DIMENSION_SCALE",
            "_Netcdf4Dimid": np.int32(i),
        }
        if v is not None and v.dims == (d,):
            specs.append(
                H5WriteSpec(d, np.asarray(v.data),
                            {**scale_attrs, "NAME": d, **v.attrs})
            )
        else:
            specs.append(
                H5WriteSpec(
                    d,
                    np.zeros(nc.dims[d], dtype=np.float32),
                    {**scale_attrs,
                     "NAME": f"{_PHONY_DIM_PREFIX}.{nc.dims[d]}"},
                )
            )
    for name, v in nc.variables.items():
        if v.dims == (name,) and name in nc.dims:
            continue  # already written as its dimension's scale
        specs.append(
            H5WriteSpec(
                name,
                np.asarray(v.data),
                {"DIMENSION_LIST": DimList(list(v.dims)), **v.attrs},
            )
        )
    return write_hdf5(
        specs,
        superblock=superblock,
        layout=layout,
        compress=compress,
        shuffle=shuffle,
        chunks=chunks,
        chunk_index=chunk_index,
        dense_attrs=dense_attrs,
        dense_links=dense_links,
        fletcher32=fletcher32,
    )
