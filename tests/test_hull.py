"""Per-key convex hull aggregate (operators/hull.py).

Oracle: an independent O(n^3) brute force — a point is a hull vertex
iff it is NOT strictly inside (or on the interior of an edge of) the
triangle of any three other points. The Spark path must also be a pure
function of the input SET: single-stage ≡ salted two-stage, and
invariant under shuffling row order.
"""

from __future__ import annotations

import numpy as np
import pytest

from osm_notes_ingestion_spark.operators.hull import convex_hull, hull_np


def _brute_hull_vertices(pts: np.ndarray) -> set[tuple[float, float]]:
    """All points that no triangle of other points strictly contains."""
    pts = np.unique(pts, axis=0)
    n = len(pts)
    if n <= 2:
        return {tuple(p) for p in pts}

    def _inside(p, a, b, c):
        # inside NON-degenerate triangle abc, boundary included
        d1 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
        d2 = (c[0] - b[0]) * (p[1] - b[1]) - (c[1] - b[1]) * (p[0] - b[0])
        d3 = (a[0] - c[0]) * (p[1] - c[1]) - (a[1] - c[1]) * (p[0] - c[0])
        if d1 == 0 and d2 == 0 and d3 == 0:
            return False  # degenerate triangle: handled by _on_segment
        neg = (d1 < 0) or (d2 < 0) or (d3 < 0)
        pos = (d1 > 0) or (d2 > 0) or (d3 > 0)
        return not (neg and pos)

    def _on_segment(p, a, b):
        # p strictly between a and b on one line (strict-hull exclusion)
        cr = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
        if cr != 0:
            return False
        dot = (p[0] - a[0]) * (b[0] - a[0]) + (p[1] - a[1]) * (b[1] - a[1])
        return 0 < dot < (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2

    out = set()
    for i in range(n):
        p = pts[i]
        contained = any(
            _on_segment(p, pts[a], pts[b])
            for a in range(n)
            for b in range(a + 1, n)
            if i not in (a, b)
        )
        for a in range(n):
            if contained:
                break
            for b in range(a + 1, n):
                if contained:
                    break
                for c in range(b + 1, n):
                    if i in (a, b, c):
                        continue
                    if _inside(p, pts[a], pts[b], pts[c]):
                        contained = True
                        break
        if not contained:
            out.add((float(p[0]), float(p[1])))
    return out


def test_hull_np_matches_brute_force():
    rng = np.random.default_rng(5)
    for trial in range(6):
        pts = rng.uniform(-50, 50, size=(40, 2))
        if trial == 3:  # grid with collinear runs
            g = np.arange(5, dtype=float)
            pts = np.array([(x, y) for x in g for y in g])
        if trial == 4:  # all collinear
            t = np.linspace(0, 9, 10)
            pts = np.stack([t, 2 * t + 1], axis=1)
        if trial == 5:  # duplicates
            pts = np.repeat(rng.uniform(-5, 5, size=(12, 2)), 3, axis=0)
        h = hull_np(pts[:, 0], pts[:, 1])
        assert {tuple(p) for p in h} == _brute_hull_vertices(pts), f"trial {trial}"
        if len(h) >= 3:
            # strictly convex CCW: every turn is a left turn
            m = len(h)
            for i in range(m):
                o, a, b = h[i], h[(i + 1) % m], h[(i + 2) % m]
                cr = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
                assert cr > 0
            # starts at the lexicographically smallest vertex
            assert tuple(h[0]) == min(map(tuple, h))


def test_hull_singleton_and_pair():
    h1 = hull_np(np.array([3.0]), np.array([4.0]))
    assert h1.tolist() == [[3.0, 4.0]]
    h2 = hull_np(np.array([3.0, 1.0]), np.array([4.0, 2.0]))
    assert h2.tolist() == [[1.0, 2.0], [3.0, 4.0]]


@pytest.fixture()
def keyed_points(spark):
    rng = np.random.default_rng(9)
    rows = []
    # key 1: 2000 points in a disc; key 2: 4 exact corners + interior;
    # key 3: single point; key 4: collinear
    ang = rng.uniform(0, 2 * np.pi, 2000)
    rad = np.sqrt(rng.uniform(0, 1, 2000)) * 10
    for a, r in zip(ang, rad):
        rows.append((1, float(40 + r * np.sin(a)), float(5 + r * np.cos(a))))
    rows += [(2, 0.0, 0.0), (2, 0.0, 10.0), (2, 10.0, 0.0), (2, 10.0, 10.0),
             (2, 5.0, 5.0), (2, 2.0, 7.0)]
    rows += [(3, -33.0, 151.0)]
    rows += [(4, float(i), float(2 * i)) for i in range(20)]
    return spark.createDataFrame(rows, "country_id long, lat double, lon double")


def test_convex_hull_spark_matches_numpy(spark, keyed_points):
    got = {r["key"]: r for r in convex_hull(keyed_points, salt=8).collect()}
    pdf = keyed_points.toPandas()
    for key, grp in pdf.groupby("country_id"):
        want = hull_np(grp["lon"].to_numpy(), grp["lat"].to_numpy())
        have = np.array([(v["lon"], v["lat"]) for v in got[key]["hull"]])
        assert have.tolist() == want.tolist(), f"key {key}"
        assert got[key]["n_vertices"] == len(want)
    # square key: exactly the 4 corners, area 100
    assert got[2]["n_vertices"] == 4 and got[2]["area_deg2"] == 100.0
    # singleton and collinear degenerate areas
    assert got[3]["n_vertices"] == 1 and got[3]["area_deg2"] == 0.0
    assert got[4]["n_vertices"] == 2 and got[4]["area_deg2"] == 0.0


def test_two_stage_equals_single_stage_any_salt(spark, keyed_points):
    a = {r["key"]: [tuple(v) for v in r["hull"]]
         for r in convex_hull(keyed_points, salt=1).collect()}
    b = {r["key"]: [tuple(v) for v in r["hull"]]
         for r in convex_hull(keyed_points, salt=32).collect()}
    c = {r["key"]: [tuple(v) for v in r["hull"]]
         for r in convex_hull(keyed_points.repartition(13), salt=8).collect()}
    assert a == b == c


def test_all_points_covered(spark, keyed_points):
    # every input point lies inside or on its key's hull polygon
    got = {r["key"]: np.array([(v["lon"], v["lat"]) for v in r["hull"]])
           for r in convex_hull(keyed_points, salt=8).collect()}
    pdf = keyed_points.toPandas()
    for key, grp in pdf.groupby("country_id"):
        h = got[key]
        if len(h) < 3:
            continue
        m = len(h)
        lon, lat = grp["lon"].to_numpy(), grp["lat"].to_numpy()
        inside = np.ones(len(grp), dtype=bool)
        for i in range(m):
            o, a = h[i], h[(i + 1) % m]
            cr = (a[0] - o[0]) * (lat - o[1]) - (a[1] - o[1]) * (lon - o[0])
            inside &= cr >= -1e-9
        assert inside.all(), key


def test_merge_hulls_incremental_equals_full(spark):
    from osm_notes_ingestion_spark.operators.hull import merge_hulls

    rng = np.random.default_rng(21)
    batches = []
    for b in range(3):
        rows = []
        for i in range(300):
            key = int(rng.integers(1, 4))
            rows.append((key, float(rng.uniform(-40, 40)), float(rng.uniform(-90, 90))))
        # batch 1 introduces key 9; batches 0 and 2 never touch it
        if b == 1:
            rows += [(9, 1.0, 1.0), (9, 2.0, 5.0), (9, -1.0, 3.0)]
        batches.append(
            spark.createDataFrame(rows, "country_id long, lat double, lon double")
        )

    state = convex_hull(batches[0])
    for delta in batches[1:]:
        state = merge_hulls(state, delta)

    full = batches[0]
    for delta in batches[1:]:
        full = full.unionByName(delta)
    want = {r["key"]: ([tuple(v) for v in r["hull"]], r["n_vertices"], r["area_deg2"])
            for r in convex_hull(full).collect()}
    got = {r["key"]: ([tuple(v) for v in r["hull"]], r["n_vertices"], r["area_deg2"])
           for r in state.collect()}
    assert got == want
    assert 9 in got and got[9][1] == 3


def test_merge_hulls_null_key_merges_once(spark):
    """A null key is merged like any other key: repeated merges keep ONE
    null-key hull, equal to the full recompute (a plain equi-join split
    never matched it, so each merge added another null-key row)."""
    from osm_notes_ingestion_spark.operators.hull import merge_hulls

    schema = "country_id long, lat double, lon double"
    b0 = spark.createDataFrame(
        [(None, 0.0, 0.0), (None, 1.0, 0.0), (None, 0.0, 1.0), (1, 0.0, 0.0), (1, 1.0, 1.0)],
        schema,
    )
    b1 = spark.createDataFrame([(None, 5.0, 5.0), (1, 3.0, 3.0)], schema)
    state = merge_hulls(merge_hulls(convex_hull(b0), b1), b1)
    got = [(r["key"], [tuple(v) for v in r["hull"]]) for r in state.collect()]
    want = [
        (r["key"], [tuple(v) for v in r["hull"]])
        for r in convex_hull(b0.unionByName(b1)).collect()
    ]
    assert len([k for k, _ in got if k is None]) == 1
    assert sorted(got, key=str) == sorted(want, key=str)
