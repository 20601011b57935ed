"""File splitting (weather-sp parity): split a dataset by variable
and/or dimension values into one output per combination.

The reference shells out to pygrib/grib_copy/netCDF4 per input file
(weather_sp/splitter_pipeline/file_splitters.py:159-378) and formats
output paths from the split dimension values. On the engine's
long-format row model this is *exactly* Spark's partitioned write:
``df.write.partitionBy(dims...)`` produces one directory (file set) per
dimension-value combination, with skip-existing/force semantics
(file_splitters.py:131-156) via write modes.

Splitting "by variable" on a wide table = melt to (variable, value)
long form first, then partition by the variable column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt_variables(df: DataFrame, id_cols: list[str], var_cols: list[str]) -> DataFrame:
    """Wide → long: one row per (id_cols..., variable, value). Built on
    the stack() table generator (single narrow pass, no shuffle)."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in var_cols)
    return df.select(
        *id_cols, F.expr(f"stack({len(var_cols)}, {pairs}) AS (variable, value)")
    )


def split_by_dims(
    df: DataFrame,
    out_dir: str,
    dims: list[str],
    mode: str = "errorifexists",
    fmt: str = "parquet",
) -> None:
    """Partitioned write: one output partition per value combination of
    ``dims``. ``mode='ignore'`` ≈ skip-existing, ``'overwrite'`` ≈ force
    (file_splitters.py:131-156 semantics)."""
    (df.write.mode(mode).partitionBy(*dims).format(fmt).save(out_dir))


def split_by_variable(
    df: DataFrame,
    out_dir: str,
    id_cols: list[str],
    var_cols: list[str],
    mode: str = "errorifexists",
) -> None:
    """Split a wide table into one partition per data variable —
    the 'split by variable' mode of weather-sp."""
    long_df = melt_variables(df, id_cols, var_cols)
    split_by_dims(long_df, out_dir, ["variable"], mode=mode)


def split_grib_by_param(path: str, out_dir: str, template: str = "{stem}_{param}.grib2") -> dict[str, str]:
    """FILE-NATIVE GRIB splitting with BYTE-IDENTICAL messages — the
    reference's grib_copy semantics (weather_sp
    file_splitters.py:159-238 shells out to ecCodes): a GRIB file is a
    plain concatenation of self-contained messages, so splitting by
    parameter is grouping the original message byte ranges by their
    section-4 parameter and concatenating them verbatim per output.
    No re-encode: every output message is bit-for-bit the input
    message (pinned in tests). Works for edition 1 and 2; the walk
    touches only section headers (total length + PDS/param octets).

    Returns {param name: output path}. Designed to run one whole file
    per executor task (see :func:`split_files_partitioned`).
    """
    import os
    import struct

    from weather_tools_spark.sources.grib1 import _REV_PARAMS1
    from weather_tools_spark.sources.grib2 import _REV_PARAMS

    with open(path, "rb") as f:
        buf = f.read()
    groups: dict[str, list[bytes]] = {}
    p = 0
    while p < len(buf):
        if buf[p : p + 4] != b"GRIB":
            raise ValueError(f"{path}: not GRIB at offset {p}")
        edition = buf[p + 7]
        if edition == 2:
            (total,) = struct.unpack_from(">Q", buf, p + 8)
            disc = buf[p + 6]
            # walk to section 4 for (discipline, category, number)
            q = p + 16
            name = None
            while q < p + total - 4:
                (slen,) = struct.unpack_from(">I", buf, q)
                if buf[q + 4] == 4:
                    cat, num = buf[q + 9], buf[q + 10]
                    name = _REV_PARAMS.get((disc, cat, num), f"p{disc}_{cat}_{num}")
                    break
                q += slen
        elif edition == 1:
            total = int.from_bytes(buf[p + 4 : p + 7], "big")
            indicator = buf[p + 8 + 8]  # PDS octet 9
            name = _REV_PARAMS1.get(indicator, f"p{indicator}")
        else:
            raise ValueError(f"{path}: GRIB edition {edition}")
        if name is None:
            raise ValueError(f"{path}: message at {p} has no product section")
        groups.setdefault(name, []).append(buf[p : p + total])
        p += total

    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.splitext(os.path.basename(path))[0]
    out: dict[str, str] = {}
    for name, msgs in groups.items():
        target = os.path.join(out_dir, template.format(stem=stem, param=name))
        with open(target, "wb") as f:
            f.write(b"".join(msgs))
        out[name] = target
    return out


def split_netcdf_by_variable(path: str, out_dir: str, template: str = "{stem}_{var}.nc") -> dict[str, str]:
    """FILE-NATIVE classic-NetCDF splitting: one output file per data
    variable, coordinates carried into every output (weather_sp
    file_splitters.py:241-300 semantics via the stdlib codec — the
    reference uses netCDF4/xarray)."""
    import os

    from weather_tools_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    coords, data, _attrs = read_netcdf3(path)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.splitext(os.path.basename(path))[0]
    out: dict[str, str] = {}
    for var, arr in data.items():
        target = os.path.join(out_dir, template.format(stem=stem, var=var))
        write_netcdf3(target, coords, {var: arr})
        out[var] = target
    return out


# file-native splitter per detected format (sources/opener.detect)
SPLITTERS = {
    "grib2": split_grib_by_param,
    "grib1": split_grib_by_param,
    "netcdf3": split_netcdf_by_variable,
}


def split_files_partitioned(spark, paths: list[str], out_dir: str) -> int:
    """Distributed file-native splitter: whole input files are the unit
    of parallelism (the reference's one-file-per-worker shape); each
    executor task splits its file with the :data:`SPLITTERS` entry of
    its format. Returns the number of output files written."""
    import pandas as pd

    from weather_tools_spark.sources.opener import detect, map_files

    def run(p: str) -> pd.DataFrame:
        outs = SPLITTERS[detect(p)](p, out_dir)
        return pd.DataFrame({"src": [p] * len(outs), "out": list(outs.values())})

    return map_files(spark, paths, run, "src string, out string").count()
