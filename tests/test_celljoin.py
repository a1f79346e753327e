"""Salted cell join must equal the broadcast PIP join exactly (SURVEY.md §7
'salted polygon-side explode must not duplicate or drop matches')."""

import numpy as np

from osmgraft.operators.celljoin import cell_pip_join, polygon_cover_cells
from osmgraft.operators.pip import pip_join
from osmgraft.synth import ADMIN_BOUNDARIES


def _pts_df(spark, n=5000, hot_frac=0.4):
    """Synthetic points with a deliberately hot cell (NYC box)."""
    rng = np.random.default_rng(5)
    n_hot = int(n * hot_frac)
    lat = np.concatenate(
        [
            rng.integers(405_000_000, 409_000_000, n_hot),
            rng.integers(-600_000_000, 600_000_000, n - n_hot),
        ]
    )
    lon = np.concatenate(
        [
            rng.integers(-742_000_000, -738_000_000, n_hot),
            rng.integers(-1_790_000_000, 1_790_000_000, n - n_hot),
        ]
    )
    return spark.createDataFrame(
        list(zip(range(n), lat.tolist(), lon.tolist())),
        "point_id long, lat7 int, lon7 int",
    )


def test_salted_equals_broadcast(spark, many_rings):
    """Admin rings (root-only STR tree) and 300 seeded rings (multi-level)."""
    pts = _pts_df(spark)
    for polys in (ADMIN_BOUNDARIES, many_rings):
        want = sorted(
            (r.point_id, r.boundary_id)
            for r in pip_join(pts, polys, how="inner").collect()
        )
        got = sorted(
            (r.point_id, r.boundary_id)
            for r in cell_pip_join(
                pts, polys, skew_threshold=100, salt_target=50, max_salts=16
            ).collect()
        )
        assert want and got == want  # no dupes, no drops, exact same match set


def test_no_salting_path(spark):
    """skew_threshold above every cell count → unsalted plan, same answer."""
    pts = _pts_df(spark, n=800)
    want = {
        (r.point_id, r.boundary_id)
        for r in pip_join(pts, ADMIN_BOUNDARIES, how="inner").collect()
    }
    got = {
        (r.point_id, r.boundary_id)
        for r in cell_pip_join(pts, ADMIN_BOUNDARIES, skew_threshold=10**9).collect()
    }
    assert got == want


def test_cover_cells_contains_polygon_points(spark):
    from osmgraft.functions.cells import py_grid_cell

    for p in ADMIN_BOUNDARIES:
        cells = set(polygon_cover_cells(p, 50_000_000))
        for lat, lon in p["ring"]:
            assert py_grid_cell(lat, lon, 50_000_000) in cells
