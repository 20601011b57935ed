"""Ingest sources: hypercube→rows (NetCDF/GRIB/TIF/Zarr), zarr chunk
scanning with predicate pruning, multimodal binary columns.

Decoder libraries (xarray/cfgrib/rioxarray) are not present in this
container — each decode step is gated behind an import-try with a
deterministic fake, while the Spark-side plumbing (schemas, mapInArrow
batch shapes, partitioning, pruning, broadcast geo join) is real and
tested.
"""
