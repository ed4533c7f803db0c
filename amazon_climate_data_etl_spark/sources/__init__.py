"""Ingest boundaries and sinks.

Spark has no NetCDF or Shapefile connector (SURVEY.md §2.1 S1/S2); the
engine's design decision is an *ingest boundary*: one-time relationalization
jobs produce partitioned Parquet, and every query runs against that. The
modules here hold one dependency-free decoder per input format — NetCDF
(``netcdf_classic`` + ``netcdf4_min``/``hdf5_min``), shapefile
(``shapefile_min`` + ``crs_min``), WARC (``warc_min``), GeoTIFF
(``geotiff_min``) and Zarr (``zarr_min`` with the ``blosc_min``/``zstd_min``
codecs) — plus the CSV sinks the reference writes (S3–S5).
"""
