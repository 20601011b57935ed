"""Command-line surface: the four reference tools as one entry point.

The reference ships four CLIs (SURVEY.md §3): ``weather-dl CONFIG``
(weather_dl/weather-dl cli docs), ``weather-mv bq --uris … --output_table …``
(weather_mv/loader_pipeline/pipeline.py arg surface), ``weather-sp
--input-pattern … --output-dir …`` (weather_sp/splitter_pipeline), and
the ``xql`` REPL (xql/src/main.py). A reference user drives everything
through these commands, so the engine exposes the same verbs::

    python -m weather_tools_spark dl CONFIG.cfg [--dry-run] [--num-licenses N]
    python -m weather_tools_spark mv --uris GLOB --output PATH
        [--variables v1,v2] [--area N W S E]
    python -m weather_tools_spark sp --input-pattern GLOB --output-dir DIR
    python -m weather_tools_spark xql [--query SQL] [--uri STORE --view w]

Each verb is a thin argparse adapter over the library machinery
(configfile grammar → partition fan-out → client strategies; opener →
long-format ingest → columnar sink; file-native splitter; xql rewrite →
Catalyst). No logic lives here — the CLI builds the same plans the
registry queries exercise, so everything it runs is oracle/pytest
covered already.
"""

from __future__ import annotations

import argparse
import glob as _glob
import json
import sys


def _spark(app: str):
    from weather_tools_spark.session import get_spark

    return get_spark(app)


# ---------------------------------------------------------------------------
# weather-dl
# ---------------------------------------------------------------------------


def cmd_dl(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from weather_tools_spark.pipeline.clients import get_client, with_retries
    from weather_tools_spark.pipeline.configfile import get_subsections, process_config
    from weather_tools_spark.pipeline.partition import (
        assign_licenses,
        fanout,
        run_fetches,
        skip_existing,
    )

    spark = _spark("weather-dl")
    import os as _os

    if _os.path.exists(args.config):
        with open(args.config) as fh:
            cfg = process_config(fh, _os.path.basename(args.config))
        with open(args.config) as fh:
            n_sub = len(get_subsections(fh.read())) or 1
    else:  # inline config text (tests / heredocs)
        cfg = process_config(args.config)
        n_sub = len(get_subsections(args.config)) or 1
    parts = fanout(spark, cfg)
    # skip-existing: LEFT ANTI against already-materialized targets
    import re as _re

    pattern = _re.sub(r"\{[^}]*\}", "*", cfg.target_template)
    existing = sorted(_glob.glob(pattern))
    if existing:
        parts = skip_existing(
            parts, spark.createDataFrame([(t,) for t in existing], "target string")
        )
    n_lic = args.num_licenses or n_sub
    parts = assign_licenses(parts, n_lic, fair=args.fair_scheduling)
    total = parts.count()
    if args.dry_run:
        print(f"dry-run: {total} partition(s), {n_lic} license slot(s)")
        for r in parts.limit(args.show).collect():
            print(" ", r.target)
        return 0
    client = get_client(cfg.client)
    sel_keys = cfg.partition_keys

    def fetch(rows) -> None:
        for row in rows:
            selection = {k: row[k] for k in sel_keys}
            with_retries(lambda: client.retrieve(cfg.dataset, selection, row["target"]))

    manifest = None
    if args.manifest:
        from weather_tools_spark.pipeline.manifest import ParquetManifest

        manifest = ParquetManifest(spark, args.manifest)
        manifest.apply(_manifest_batch(spark, cfg, parts, "scheduled", seq=1))
    run_fetches(parts, fetch, n_lic)
    if manifest is not None:
        # the fetch loop completed every partition (run_fetches raises
        # through on failure), so the whole batch transitions to success
        manifest.apply(_manifest_batch(spark, cfg, parts, "in-progress", seq=2))
        manifest.apply(_manifest_batch(spark, cfg, parts, "success", seq=3))
    print(f"fetched {total} partition(s) with client={cfg.client}")
    return 0


def _manifest_batch(spark, cfg, parts, status: str, seq: int):
    """One manifest update row per partition (reference manifest row
    shape: config/dataset/selection-JSON keyed by target location)."""
    from pyspark.sql import functions as F

    from weather_tools_spark.pipeline.manifest import MANIFEST_SCHEMA

    sel = F.to_json(F.struct(*[F.col(k) for k in cfg.partition_keys]))
    base = parts.select(
        F.col("config_name"),
        F.lit(cfg.dataset).alias("dataset"),
        sel.alias("selection"),
        F.col("target").alias("location"),
        F.lit(status).alias("status"),
        F.lit("cli").alias("username"),
        F.current_timestamp().alias("scheduled_time"),
        F.lit(seq).cast("long").alias("_seq"),
    )
    missing = [f.name for f in MANIFEST_SCHEMA.fields if f.name not in base.columns]
    for name in missing:
        base = base.withColumn(
            name, F.lit(None).cast(MANIFEST_SCHEMA[name].dataType)
        )
    return base.select(*[f.name for f in MANIFEST_SCHEMA.fields])


# ---------------------------------------------------------------------------
# weather-mv
# ---------------------------------------------------------------------------


def cmd_mv(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from weather_tools_spark.sources.opener import open_dataset

    # flag combinations that cannot work fail here, before any Spark job
    if args.geo and (args.zarr or args.netcdf):
        print("--geo adds a string column; --zarr and --netcdf store numeric variables only",
              file=sys.stderr)
        return 2
    if args.zarr:
        try:
            chunks = tuple(int(x) for x in args.chunks.split(","))
        except ValueError:
            chunks = ()
        if len(chunks) != 3 or min(chunks) < 1:
            print(f"--chunks needs three positive integers time,lat,lon, got {args.chunks!r}",
                  file=sys.stderr)
            return 2

    spark = _spark("weather-mv")
    lat_range = lon_range = None
    if args.area:
        n, w, s, e = args.area
        lat_range, lon_range = (s, n), (w, e)
    keep = [v for v in args.variables.split(",") if v]
    try:
        # the projection reaches the decoder: pruned GRIB messages are
        # skipped at the header, pruned NetCDF payloads never unpack
        df = open_dataset(
            spark, args.uris, lat_range=lat_range, lon_range=lon_range, variables=keep or None
        )
    except ValueError as exc:  # unknown variables, no matching or mixed files
        print(exc, file=sys.stderr)
        return 2
    if keep:
        dims = [c for c in ("time", "latitude", "longitude") if c in df.columns]
        df = df.select(*dims, *keep)
    if args.geo:
        from weather_tools_spark.functions.geo import geo_point

        df = df.withColumn("geo_point", geo_point(F.col("latitude"), F.col("longitude")))
    if args.netcdf:
        # classic-NetCDF sink: one whole .nc file per calendar day per
        # task (the reference splitter's whole-file parallel unit)
        from weather_tools_spark.sources.netcdf3 import write_netcdf3_partitioned

        if "time" not in df.columns:
            print("--netcdf needs a time axis (GRIB/NetCDF input)", file=sys.stderr)
            return 2
        variables = [c for c in df.columns if c not in ("time", "latitude", "longitude")]
        n = write_netcdf3_partitioned(df, args.output, variables)
        print(f"wrote {n} NetCDF file(s), vars={variables} -> {args.output}")
        return 0
    if args.zarr:
        # Zarr sink (the reference's xbeam ChunksToZarr path): the input
        # is decoded once and held for the sink's lifetime only (a local
        # copy of the rows costs less than decoding GRIB again); one
        # aggregate job derives the three coordinate axes in-plan (axes
        # are dimension-sized, the same bounded contract as the geo
        # lookup) and the distributed chunk writer reads the same rows.
        from weather_tools_spark.sources.zarr_scan import ChunkedDatasetMeta
        from weather_tools_spark.sources.zarr_v2 import write_zarr_v2

        if "time" not in df.columns:
            print("--zarr needs a time axis (GRIB/NetCDF input)", file=sys.stderr)
            return 2
        dims = ("time", "latitude", "longitude")
        variables = tuple(c for c in df.columns if c not in dims)
        df.persist()
        try:
            times, lats, lons = df.agg(*(F.array_sort(F.collect_set(c)) for c in dims)).first()
            meta = ChunkedDatasetMeta(
                uri=args.output, times=[t.isoformat() for t in times],
                lats=lats[::-1], lons=lons,  # latitude north → south
                chunk_time=chunks[0], chunk_lat=chunks[1], chunk_lon=chunks[2],
                variables=variables,
            )
            n_chunks = write_zarr_v2(df, args.output, meta)
        finally:
            df.unpersist(blocking=True)
        print(f"wrote {n_chunks} chunk(s), vars={list(variables)} -> {args.output}")
        return 0
    # parquet sink: swaps to .format("bigquery") where the connector is
    # deployed (reference bq.py WriteToBigQuery append semantics). The
    # count is observed on the write itself: this run's rows, no re-scan.
    from weather_tools_spark.operators.metrics import observe_counts

    df, obs = observe_counts(df, "mv-parquet")
    df.write.mode(args.mode).parquet(args.output)
    print(f"wrote {obs.get['n_rows']} row(s) -> {args.output}")
    return 0


# ---------------------------------------------------------------------------
# weather-sp
# ---------------------------------------------------------------------------


def cmd_sp(args: argparse.Namespace) -> int:
    from weather_tools_spark.pipeline.splitter import SPLITTERS, split_files_partitioned
    from weather_tools_spark.sources.opener import detect

    spark = _spark("weather-sp")
    paths = sorted(_glob.glob(args.input_pattern))
    if not paths:
        print(f"no files match {args.input_pattern!r}", file=sys.stderr)
        return 2
    unsupported = {detect(p) for p in paths} - SPLITTERS.keys()
    if unsupported:
        print(f"unsupported formats: {sorted(unsupported)}", file=sys.stderr)
        return 2
    n = split_files_partitioned(spark, paths, args.output_dir)
    print(f"split {len(paths)} file(s) -> {n} output file(s) in {args.output_dir}")
    return 0


# ---------------------------------------------------------------------------
# xql
# ---------------------------------------------------------------------------


def _print_df(df, limit: int) -> None:
    rows = df.limit(limit).collect()
    cols = df.columns
    print(",".join(cols))
    for r in rows:
        print(",".join("" if r[c] is None else str(r[c]) for c in cols))


def cmd_xql(args: argparse.Namespace) -> int:
    from weather_tools_spark.plans.xql import run_query
    from weather_tools_spark.sources.opener import open_dataset

    spark = _spark("xql")
    if args.uri:
        open_dataset(spark, args.uri, view=args.view)
    if args.query:
        _print_df(run_query(spark, args.query), args.limit)
        return 0
    # REPL (reference xql/src/main.py loop): read one statement per line
    print("xql> enter SQL (blank line or EOF exits)", file=sys.stderr)
    for line in sys.stdin:
        sql = line.strip()
        if not sql:
            break
        try:
            _print_df(run_query(spark, sql), args.limit)
        except Exception as exc:  # surface the error, keep the loop alive
            print(f"error: {exc}", file=sys.stderr)
    return 0


def cmd_dlv2(args: argparse.Namespace) -> int:
    """weather-dl-v2 CLI (reference weather_dl_v2/cli — the command
    table in fastapi-server/API-Interactions.md), talking to the
    control-plane server (pipeline/controlplane.py) over HTTP. ``serve``
    runs the server itself."""
    import json as _json
    import urllib.request

    if args.dlv2_cmd == "serve":
        from weather_tools_spark.pipeline.controlplane import ControlPlaneServer

        with ControlPlaneServer(port=args.port) as cp:
            print(f"control plane serving on {cp.url}", file=sys.stderr)
            try:
                import threading

                threading.Event().wait()  # serve until interrupted
            except KeyboardInterrupt:
                pass
        return 0

    base = args.server.rstrip("/")

    def req(path: str, method: str = "GET", body: dict | None = None):
        import urllib.error

        data = _json.dumps(body).encode() if body is not None else None
        r = urllib.request.Request(
            base + path, data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(r, timeout=30) as resp:
                out = _json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            # surface the server's JSON detail, not a traceback
            try:
                detail = _json.loads(e.read().decode())
            except Exception:  # noqa: BLE001 — non-JSON error body
                detail = {"detail": str(e)}
            print(_json.dumps(detail, indent=1), file=sys.stderr)
            return 1
        print(_json.dumps(out, indent=1))
        return 0

    filt = ""
    if getattr(args, "filter", None):
        k, _, v = args.filter.partition("=")
        filt = f"?{k}={v}"

    c = args.dlv2_cmd
    if c == "ping":
        return req("/")
    if c == "download":
        a = args.action
        if a == "add":
            q = "?force_download=true" if args.force_download else ""
            return req(f"/download{q}", "POST", {
                "config_name": args.name, "licenses": args.license,
                "client_name": args.client_name,
            })
        if a == "list":
            return req(f"/download{filt}")
        if a == "get":
            return req(f"/download/{args.name}")
        if a == "show":
            return req(f"/download/show/{args.name}")
        if a == "remove":
            return req(f"/download/{args.name}", "DELETE")
        if a == "refetch":
            return req(f"/download/refetch/{args.name}", "POST",
                       {"licenses": args.license})
    if c == "license":
        a = args.action
        if a == "add":
            return req("/license/", "POST", {
                "license_id": args.name, "client_name": args.client_name,
                "number_of_requests": args.number_of_requests or 0,
                "secret_id": args.secret_id,
            })
        if a == "list":
            return req(f"/license{filt}")
        if a == "get":
            return req(f"/license/{args.name}")
        if a == "edit":
            body = {}
            if args.client_name:
                body["client_name"] = args.client_name
            if args.number_of_requests is not None:
                body["number_of_requests"] = args.number_of_requests
            return req(f"/license/{args.name}", "PUT", body)
        if a == "remove":
            return req(f"/license/{args.name}", "DELETE")
    if c == "queue":
        a = args.action
        if a == "list":
            return req(f"/queues{filt}")
        if a == "get":
            return req(f"/queues/{args.name}")
        if a == "edit":
            return req(f"/queues/{args.name}", "POST", {
                "config_name": args.config, "priority": args.priority,
            })
    raise SystemExit(f"unknown dlv2 command {c!r}")


# ---------------------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="weather_tools_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    dl = sub.add_parser("dl", help="weather-dl: config-driven partitioned download")
    dl.add_argument("config")
    dl.add_argument("--dry-run", action="store_true")
    dl.add_argument("--num-licenses", type=int, default=0)
    dl.add_argument("--fair-scheduling", action="store_true")
    dl.add_argument("--show", type=int, default=5, help="targets to print on dry-run")
    dl.add_argument("--manifest", default="", help="parquet manifest dir to record fetch state")
    dl.set_defaults(fn=cmd_dl)

    mv = sub.add_parser("mv", help="weather-mv: files -> columnar rows")
    mv.add_argument("--uris", required=True)
    mv.add_argument("--output", required=True)
    mv.add_argument("--variables", default="")
    mv.add_argument("--area", nargs=4, type=float, metavar=("N", "W", "S", "E"))
    mv.add_argument("--geo", action="store_true", help="attach GeoJSON geo_point")
    mv.add_argument("--mode", default="overwrite")
    mv.add_argument("--zarr", action="store_true", help="write a Zarr v2 store instead of parquet")
    mv.add_argument("--netcdf", action="store_true", help="write classic NetCDF files instead of parquet")
    mv.add_argument("--chunks", default="24,8,8", help="time,lat,lon chunk shape for --zarr")
    mv.set_defaults(fn=cmd_mv)

    sp = sub.add_parser("sp", help="weather-sp: split files by parameter/variable")
    sp.add_argument("--input-pattern", required=True)
    sp.add_argument("--output-dir", required=True)
    sp.set_defaults(fn=cmd_sp)

    xq = sub.add_parser("xql", help="SQL over weather stores (REPL without --query)")
    xq.add_argument("--query", default="")
    xq.add_argument("--uri", default="", help="store/file/glob to open first")
    xq.add_argument("--view", default="weather", help="view name for --uri")
    xq.add_argument("--limit", type=int, default=50)
    xq.set_defaults(fn=cmd_xql)

    # weather-dl-v2 control-plane CLI (reference weather_dl_v2/cli)
    d2 = sub.add_parser("dlv2", help="weather-dl-v2 control plane client/server")
    d2.add_argument("--server", default="http://127.0.0.1:8787")
    d2sub = d2.add_subparsers(dest="dlv2_cmd", required=True)
    d2sub.add_parser("ping")
    srv = d2sub.add_parser("serve")
    srv.add_argument("--port", type=int, default=8787)
    dl2 = d2sub.add_parser("download")
    dl2.add_argument("action", choices=["add", "list", "get", "show", "remove", "refetch"])
    dl2.add_argument("name", nargs="?", default="")
    dl2.add_argument("-l", "--license", action="append", default=[])
    dl2.add_argument("--client-name", default="")
    dl2.add_argument("--force-download", action="store_true")
    dl2.add_argument("--filter", default="")
    li2 = d2sub.add_parser("license")
    li2.add_argument("action", choices=["add", "list", "get", "edit", "remove"])
    li2.add_argument("name", nargs="?", default="")
    li2.add_argument("--client-name", default="")
    li2.add_argument("--number-of-requests", type=int, default=None)
    li2.add_argument("--secret-id", default="")
    li2.add_argument("--filter", default="")
    q2 = d2sub.add_parser("queue")
    q2.add_argument("action", choices=["list", "get", "edit"])
    q2.add_argument("name", nargs="?", default="")
    q2.add_argument("--config", default="")
    q2.add_argument("--priority", type=int, default=None)
    q2.add_argument("--filter", default="")
    for p in (d2sub.choices["ping"], srv, dl2, li2, q2):
        p.set_defaults(fn=cmd_dlv2)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
