"""gpq_extract: the GeoParquet read path.

Set-up writes one seeded, spatially clustered dataset twice with the
engine's ``write_geoparquet``: once with the bbox covering column and
once without. The timed loop is a seeded sequence of ``extract(bbox=...)``
calls, each fully materialized (``toArrow``: every column, every row,
to the driver). A pass runs every box on the covering dataset and then
on the WKB-only dataset. Most boxes are small viewports (~0.1% of the
rows); a minority are wide (~25%).

Outputs are checked against the row ids the generator's own envelopes
select, computed without the engine.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import NO_TRACE, add_spark_layer, geomean, median, sum_counters, tail
from inputs import expected_ids, extract_boxes, extract_source

N_FILES = 4
ROW_GROUP = 4096
ROW_GROUPS_PER_FILE = 4
N_ROWS = N_FILES * ROW_GROUPS_PER_FILE * ROW_GROUP
N_SMALL, N_WIDE = 3, 1
MIN_PASSES = 2


def _bbox_arg(box) -> str:
    return ",".join(repr(v) for v in box)


def _row_group_boxes(path: str) -> list[tuple[int, tuple]]:
    """(rows, (xmin, ymin, xmax, ymax)) of every row group, from the
    footer statistics of the covering column."""
    from gpq_spark.geoparquet.reader import parquet_files

    out = []
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        idx = {k: names.index(f"bbox.{k}") for k in ("xmin", "ymin", "xmax", "ymax")}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = {k: rg.column(i).statistics for k, i in idx.items()}
            out.append(
                (rg.num_rows, (st["xmin"].min, st["ymin"].min, st["xmax"].max, st["ymax"].max))
            )
    return out


def _candidate_rows(row_groups, box) -> int:
    """Rows in the row groups whose footer statistics intersect ``box``:
    what an ideal statistics-based scan has to read."""
    qx0, qy0, qx1, qy1 = box
    return sum(
        n for n, (x0, y0, x1, y1) in row_groups
        if x1 >= qx0 and qx1 >= x0 and y1 >= qy0 and qy1 >= y0
    )


def _extract(spark, path: str, box, tracer, counters: dict):
    from gpq_spark.geoparquet.extract import extract

    with tracer.spark_window(counters):
        t0 = time.perf_counter()
        with tracer.span("extract.plan_s"):
            df = extract(spark, path, bbox=_bbox_arg(box))
        with tracer.span("extract.exec_s"):
            table = df.toArrow()
        wall = time.perf_counter() - t0
    return table, wall


def run(r) -> dict:
    from gpq_spark.geoparquet.metadata import default_metadata
    from gpq_spark.geoparquet.writer import write_geoparquet

    base = r.work.sub("extract")
    src = os.path.join(base, "source")
    paths = {"covering": os.path.join(base, "covering"), "wkb": os.path.join(base, "wkb")}
    boxes = extract_boxes(r.seed, N_SMALL, N_WIDE)
    warm_boxes = extract_boxes(r.seed + 1, 1, 1)

    r.start()
    env = extract_source(src, r.seed, N_ROWS, N_FILES)["env"]
    df = r.spark.read.parquet(src)
    for name, path in paths.items():
        write_geoparquet(
            df, path, default_metadata(), row_group_length=ROW_GROUP,
            add_covering=(name == "covering"),
        )
    with r.tracer.span("session.warmup_s"):
        for path in paths.values():
            for box in warm_boxes:
                _extract(r.spark, path, box, NO_TRACE, {})
    expected = [expected_ids(env, b) for b in boxes]
    row_groups = _row_group_boxes(paths["covering"])
    r.notes.update(rows=N_ROWS, row_groups=len(row_groups), boxes=len(boxes),
                   expected_rows=[len(e) for e in expected])

    tr = r.tracer
    passes = []
    t_start = r.begin_timed()
    n_pass = 0
    while not r.done(t_start, n_pass, MIN_PASSES):
        n_pass += 1
        walls: list[float] = []
        windows: dict[str, list[dict]] = {"covering": [], "wkb": []}
        for name, path in paths.items():
            for box, want in zip(boxes, expected):
                counters: dict = {}
                try:
                    table, wall = _extract(r.spark, path, box, tr, counters)
                except Exception as exc:  # noqa: BLE001 - counted, not fatal
                    r.fail(f"extract {name}", exc)
                    continue
                r.record(name, wall)
                walls.append(wall)
                got = np.sort(np.asarray(table.column("id").to_numpy()))
                r.check(
                    table.num_rows == len(want) and np.array_equal(got, want),
                    f"extract {name} {box}: {table.num_rows} rows, want {len(want)}",
                )
                if tr.enabled:
                    counters["returned"] = table.num_rows
                    counters["candidates"] = _candidate_rows(row_groups, box)
                    windows[name].append(counters)
        if walls:
            passes.append({"pass_s": sum(walls), "geomean_s": geomean(walls)})
        if tr.enabled:
            _trace_pass(r, paths, windows)
    r.passes = passes
    cov = r.calls.get("covering", [float("nan")])
    t, pct, beyond = tail(cov)
    r.notes.update(p50_s=median(cov), tail_s=t, tail_percentile=pct, tail_beyond=beyond)
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        "geomean_s": median([p["geomean_s"] for p in passes]),
    }


def _trace_pass(r, paths: dict, windows: dict) -> None:
    from gpq_spark.geoparquet.reader import read_geo_metadata

    tr = r.tracer
    for path in paths.values():
        t0 = time.perf_counter()
        read_geo_metadata(path)
        tr.add("geoparquet.read_meta_s", time.perf_counter() - t0)
    for name, ws in windows.items():
        for w in ws:
            tr.add("extract.jobs", w["jobs"])
        if ws:
            tr.add(f"extract.{name}_p50_s", median(r.calls[name][-len(ws):]))
    cov = windows["covering"]
    scanned = sum(w["scan_rows"] for w in cov)
    tr.add("scan.useful_ratio", sum(w["returned"] for w in cov) / max(1, scanned))
    tr.add("scan.pruning_gap", scanned / max(1, sum(w["candidates"] for w in cov)))
    add_spark_layer(tr, sum_counters(windows["covering"] + windows["wkb"]))
