"""Independent reference outputs for the benchmark's correctness check.

The references never call the engine's Spark code. Points come from the
DuckDB twin of the synthetic projection (``synth.sql_latlon_of_key``);
point-in-polygon is the same crossing expression as ``geom.sql_pip_predicate``
behind a bounding-box pre-join; tiles use ``tiles.sql_tile_x/y``, and H3
uses ``h3real.sql_h3_cell``.

``run.py`` computes them once per run, before the Spark session starts and
outside every timed phase, by running this module as a child process::

    python3 -m perfbench.reference --workload flagship --seed 1 --out ref.npz

The child writes ``ref.<column>`` arrays (the expected output, in any row
order: the check sorts both sides) and ``batch.<column>`` arrays (the first
Arrow batch of input points, for the traced kernel probes).
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa

from osmgraft.functions.h3real import sql_h3_cell
from osmgraft.functions.tiles import sql_tile_x, sql_tile_y
from osmgraft.geom import polygon_bbox, polygon_edges
from osmgraft.synth import sql_latlon_of_key
from perfbench.inputs import (
    BATCH_ROWS,
    H3_RES,
    H3_SAMPLE_EVERY,
    TILE_ZOOM,
    Inputs,
    caption_sql,
    make,
)


def points_sql(key0: int, n: int) -> str:
    lat, lon = sql_latlon_of_key("k")
    return (
        f"SELECT k AS point_id, {lat} AS lat7, {lon} AS lon7 "
        f"FROM (SELECT range AS k FROM range({key0}, {key0 + n}))"
    )


GRID7 = 10_000_000  # 1-degree buckets for the bounding-box pre-join


def _register_polygons(con: duckdb.DuckDBPyConnection, polys: list[dict]) -> None:
    """Tables ``bbox``, ``bbox_cells`` (every 1-degree bucket a box touches,
    so the pre-join is an equi-join) and ``edges``."""
    bb = np.array([polygon_bbox(p) for p in polys], dtype=np.float64)
    ids = np.array([p["boundary_id"] for p in polys], dtype=np.int64)
    con.register("bbox", pa.table({
        "boundary_id": ids, "ymin": bb[:, 0], "xmin": bb[:, 1], "ymax": bb[:, 2], "xmax": bb[:, 3],
    }))
    lo, hi = np.floor(bb[:, :2] / GRID7).astype(np.int64), np.floor(bb[:, 2:] / GRID7).astype(np.int64)
    cells = [
        (b, cy, cx)
        for b, (y0, x0), (y1, x1) in zip(ids, lo, hi)
        for cy in range(y0, y1 + 1)
        for cx in range(x0, x1 + 1)
    ]
    c = np.array(cells, dtype=np.int64)
    con.register("bbox_cells", pa.table({"boundary_id": c[:, 0], "cy": c[:, 1], "cx": c[:, 2]}))
    edges = [polygon_edges(p) for p in polys]
    e = np.concatenate(edges)
    con.register("edges", pa.table({
        "boundary_id": np.repeat(ids, [len(x) for x in edges]),
        "y1": e[:, 0], "x1": e[:, 1], "y2": e[:, 2], "x2": e[:, 3],
    }))


def pip_pairs_sql(pts: str) -> str:
    """(point_id, boundary_id, lat7, lon7) for every containment."""
    y, x = "CAST(c.lat7 AS DOUBLE)", "CAST(c.lon7 AS DOUBLE)"
    return f"""
WITH pts AS ({pts}),
cand AS (
  SELECT p.point_id, p.lat7, p.lon7, b.boundary_id FROM pts p
  JOIN bbox_cells g
    ON g.cy = CAST(floor(p.lat7 / {GRID7}.0) AS BIGINT)
   AND g.cx = CAST(floor(p.lon7 / {GRID7}.0) AS BIGINT)
  JOIN bbox b ON b.boundary_id = g.boundary_id
  WHERE CAST(p.lat7 AS DOUBLE) BETWEEN b.ymin AND b.ymax
    AND CAST(p.lon7 AS DOUBLE) BETWEEN b.xmin AND b.xmax)
SELECT c.point_id, c.boundary_id, any_value(c.lat7) AS lat7, any_value(c.lon7) AS lon7
FROM cand c JOIN edges e ON e.boundary_id = c.boundary_id
GROUP BY c.point_id, c.boundary_id
HAVING sum(CASE WHEN ((e.y1 > {y}) <> (e.y2 > {y}))
  AND ({x} < (e.x2 - e.x1) * ({y} - e.y1) / (e.y2 - e.y1) + e.x1)
  THEN 1 ELSE 0 END) % 2 = 1"""


def _columns(con: duckdb.DuckDBPyConnection, sql: str) -> dict[str, np.ndarray]:
    t = con.execute(sql).arrow()
    return {name: t.column(name).to_numpy() for name in t.column_names}


def _tile_id_sql(lon: str, lat: str) -> str:
    z = TILE_ZOOM
    return f"({z} * {2 ** (2 * z)} + {sql_tile_x(lon, z)} * {2 ** z} + {sql_tile_y(lat, z)})"


def flagship(con, inp: Inputs) -> dict[str, np.ndarray]:
    _register_polygons(con, inp.polygons)
    z = TILE_ZOOM
    return _columns(con, f"""
SELECT boundary_id, {sql_tile_x('lon7', z)} AS tx, {sql_tile_y('lat7', z)} AS ty, count(*) AS cnt
FROM ({pip_pairs_sql(points_sql(inp.key0, inp.rows))}) GROUP BY ALL""")


def pip_many_polys(con, inp: Inputs) -> dict[str, np.ndarray]:
    _register_polygons(con, inp.polygons)
    return _columns(con, f"""
SELECT boundary_id, count(*) AS cnt
FROM ({pip_pairs_sql(points_sql(inp.key0, inp.rows))}) GROUP BY ALL""")


def index_write(con, inp: Inputs) -> dict[str, np.ndarray]:
    out = _columns(con, f"""
SELECT point_id, lat7, lon7, {_tile_id_sql('lon7', 'lat7')} AS tile
FROM ({points_sql(inp.key0, inp.rows)})""")
    sample = (
        f"SELECT * FROM ({points_sql(inp.key0, inp.rows)}) "
        f"WHERE (point_id - {inp.key0}) % {H3_SAMPLE_EVERY} = 0"
    )
    cells = _columns(con, sql_h3_cell(sample, H3_RES, per_point=True))
    captions = _columns(con, f"SELECT point_id, {caption_sql('point_id', inp.seed)} AS caption FROM ({sample})")
    order = np.argsort(cells["point_id"])
    out["sample_point_id"] = cells["point_id"][order]
    out["sample_cell"] = cells["cell"][order]
    corder = np.argsort(captions["point_id"])
    out["sample_caption"] = captions["caption"][corder].astype(str)
    return out


REFERENCES = {
    "flagship": flagship,
    "pip_many_polys": pip_many_polys,
    "index_write": index_write,
}


def compute(inp: Inputs, threads: int, tmp_dir: str) -> dict[str, np.ndarray]:
    con = duckdb.connect(config={
        "threads": threads, "memory_limit": "2GB", "temp_directory": tmp_dir,
    })
    try:
        out = {f"ref.{k}": v for k, v in REFERENCES[inp.workload](con, inp).items()}
        batch = _columns(con, points_sql(inp.key0, min(BATCH_ROWS, inp.rows)))
        out.update({f"batch.{k}": v for k, v in batch.items()})
    finally:
        con.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    tmp_dir = os.path.join(os.path.dirname(os.path.abspath(args.out)), "duckdb-tmp")
    threads = len(os.sched_getaffinity(0))
    np.savez(args.out, **compute(make(args.workload, args.seed), threads, tmp_dir))


if __name__ == "__main__":
    main()
