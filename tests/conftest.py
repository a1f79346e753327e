import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osmgraft.session import get_spark

    s = get_spark("osmgraft-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def many_rings():
    """300 seeded non-convex star rings with overlapping bboxes — enough
    polygons that the STR tree has intermediate levels (> 16² entries)."""
    import numpy as np

    rng = np.random.default_rng(2024)
    rings = []
    for i in range(300):
        clat, clon = rng.uniform(-60, 60), rng.uniform(-165, 165)
        nv = int(rng.integers(8, 24))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        outer = rng.uniform(2.0, 6.0)
        rad = np.where(np.arange(nv) % 2 == 0, outer, outer * rng.uniform(0.3, 0.8, nv))
        lat7 = np.round((clat + rad * np.sin(ang)) * 1e7).astype(np.int64)
        lon7 = np.round((clon + rad * np.cos(ang)) * 1e7).astype(np.int64)
        ring = list(zip(lat7.tolist(), lon7.tolist()))
        rings.append({"boundary_id": 1000 + i, "ring": ring + ring[:1], "holes": []})
    return rings
