"""gpq_ingest: the GeoParquet write path.

One seeded GeoJSON FeatureCollection is converted to GeoParquet again
and again; every output part file is then validated and described. A
pass is one conversion plus one inspection (validate + describe) per
part file. Calls are closed-loop: each starts when the previous returns.

The conversion is ``geojson_to_geoparquet``'s body, called as its two
public halves (``read_geojson`` then ``write_geoparquet``) so the split
threshold can be lowered: the document is kept small enough for many
conversions per run, and still takes the distributed split path
(driver chunk scan, executor JSON parse and WKB encode).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from harness import NO_TRACE, add_spark_layer, geomean, median, sum_counters, tail
from inputs import geojson_collection, geometry_digest, wkb_decode

N_FEATURES = 24_000
# warm-up document: smaller, still above the split threshold
WARM_FEATURES = 4_000
SPLIT_BYTES = 1 << 20
N_RULES = 20
MIN_PASSES = 2


def _convert(spark, src: str, out: str, tracer, counters: dict):
    from gpq_spark.geojson.reader import read_geojson
    from gpq_spark.geoparquet.writer import write_geoparquet

    with tracer.spark_window(counters):
        t0 = time.perf_counter()
        with tracer.span("geojson.read_s"):
            df, meta = read_geojson(spark, src, fc_distributed_min_bytes=SPLIT_BYTES)
        with tracer.span("geoparquet.write_s"):
            files = write_geoparquet(df, out, meta, single_file=False)
        wall = time.perf_counter() - t0
    return files, wall, (df, meta)


def _inspect(path: str, tracer):
    from gpq_spark.geoparquet.describe import describe
    from gpq_spark.validate.validator import validate

    with tracer.span("validate.file_s"):
        report = validate(path)
    return report, describe(path)


def _output_ok(files, expected: dict) -> tuple[bool, str]:
    """Row count and WKB round-trip digest of the written parts, read
    back with pyarrow and decoded by the benchmark's own WKB reader."""
    rows = sum(f["rows"] for f in files)
    if rows != expected["n"]:
        return False, f"rows {rows} != {expected['n']}"
    pairs = []
    for f in files:
        t = pq.read_table(f["file"], columns=["fid", "geometry"])
        pairs.extend(
            (int(fid), wkb_decode(g))
            for fid, g in zip(t.column("fid").to_pylist(), t.column("geometry").to_pylist())
        )
    if geometry_digest(pairs) != expected["digest"]:
        return False, "WKB round-trip digest differs"
    return True, ""


def _inspection_ok(report: dict, info: dict, rows: int) -> tuple[bool, str]:
    checks = report["checks"]
    passed = sum(1 for c in checks if c["passed"])
    if len(checks) != N_RULES or passed != N_RULES:
        bad = [c["title"] for c in checks if not c["passed"]]
        return False, f"validate passed {passed}/{len(checks)}: {bad[:3]}"
    if info["rows"] != rows or info["issues"] or not info["metadata"]:
        return False, f"describe rows={info['rows']} issues={info['issues']}"
    return True, ""


def run(r) -> dict:
    src = os.path.join(r.work.sub("ingest"), "features.geojson")
    out = os.path.join(r.work.path, "ingest", "out")
    warm_src = os.path.join(r.work.path, "ingest", "warm.geojson")
    r.start()
    expected = geojson_collection(src, r.seed, N_FEATURES)
    geojson_collection(warm_src, r.seed + 1, WARM_FEATURES)
    with r.tracer.span("session.warmup_s"):
        files, _w, _df = _convert(r.spark, warm_src, out, NO_TRACE, {})
        _inspect(files[0]["file"], NO_TRACE)
    r.notes.update(features=N_FEATURES, geojson_bytes=expected["bytes"], split_bytes=SPLIT_BYTES)

    tr = r.tracer
    passes = []
    t_start = r.begin_timed()
    n_pass = 0
    while not r.done(t_start, n_pass, MIN_PASSES):
        n_pass += 1
        counters: dict = {}
        try:
            files, conv_wall, (df, meta) = _convert(r.spark, src, out, tr, counters)
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            r.fail("convert", exc)
            continue
        r.record("convert", conv_wall)
        walls = [conv_wall]
        ok, why = _output_ok(files, expected)
        r.check(ok, f"convert: {why}")
        for f in files:
            t0 = time.perf_counter()
            try:
                report, info = _inspect(f["file"], tr)
            except Exception as exc:  # noqa: BLE001
                r.fail("inspect", exc)
                continue
            wall = time.perf_counter() - t0
            r.record("inspect", wall)
            walls.append(wall)
            ok, why = _inspection_ok(report, info, f["rows"])
            r.check(ok, f"inspect {os.path.basename(f['file'])}: {why}")
        passes.append({"pass_s": sum(walls), "geomean_s": geomean(walls)})
        if tr.enabled:
            _trace_pass(r, files, df, meta, counters, expected)
    r.passes = passes
    converts = r.calls.get("convert", [float("nan")])
    t, pct, beyond = tail(converts)
    r.notes.update(p50_s=median(converts), tail_s=t, tail_percentile=pct, tail_beyond=beyond)
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        "geomean_s": median([p["geomean_s"] for p in passes]),
    }


def _trace_pass(r, files, df, meta, counters: dict, expected: dict) -> None:
    """Layer samples that need extra calls: the parse alone (noop sink),
    the write without footer statistics, the metadata-only validate, and
    the sizes of what was written."""
    from gpq_spark.geoparquet.writer import write_geoparquet
    from gpq_spark.validate.validator import validate

    tr = r.tracer
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    tr.add("geojson.parse_s", time.perf_counter() - t0)
    nostats = os.path.join(r.work.path, "ingest", "nostats")
    t0 = time.perf_counter()
    write_geoparquet(df, nostats, meta, single_file=False, compute_stats=False)
    tr.add("geoparquet.stats_s", tr.samples["geoparquet.write_s"][-1] - (time.perf_counter() - t0))
    for f in files:
        t0 = time.perf_counter()
        validate(f["file"], metadata_only=True)
        tr.add("validate.metadata_s", time.perf_counter() - t0)
    row_groups = sum(pq.ParquetFile(f["file"]).metadata.num_row_groups for f in files)
    written = sum(os.path.getsize(f["file"]) for f in files)
    tr.add("geoparquet.row_groups_written", row_groups)
    tr.add("geoparquet.bytes_written", written)
    tr.add("geoparquet.bytes_ratio", written / expected["bytes"])
    conv = r.calls["convert"][-1]
    tr.add("geojson.features_per_s", expected["n"] / conv)
    validate_walls = tr.samples["validate.file_s"][-len(files):]
    tr.add("validate.rows_per_s", median([f["rows"] / w for f, w in zip(files, validate_walls)]))
    add_spark_layer(tr, sum_counters([counters]))
