"""Grid-density clustering (hexcells.hex_dbscan)."""

import numpy as np

from ssb_sgis_spark.hexcells import (
    HEX_PACK_MUL,
    HEX_PACK_OFF,
    hex_center_np,
    hex_dbscan,
)

SIZE = 10.0


def _points_at(cells, per_cell):
    """per_cell points jittered tightly around each (q, r) hex center."""
    rows = []
    for i, (q, r) in enumerate(cells):
        cx, cy = hex_center_np(np.array([q]), np.array([r]), SIZE)
        for j in range(per_cell):
            # deterministic sub-metre jitter, far inside the 10 m cell
            rows.append(
                (float(cx[0] + 0.001 * ((i * 7 + j) % 5)), float(cy[0] + 0.001 * j))
            )
    return rows


def _run(spark, rows, min_pts):
    df = spark.createDataFrame(rows, ["x", "y"])
    got = hex_dbscan(df, SIZE, min_pts).collect()
    return {(r.hex_q, r.hex_r): (r.n, r.cluster) for r in got}


def _cid(q, r):
    return (q + HEX_PACK_OFF) * HEX_PACK_MUL + (r + HEX_PACK_OFF)


def test_two_separated_blobs_form_two_clusters(spark, cc_paths):
    # blob A: three adjacent hexes; blob B: one far hex; a sparse hex
    # in between stays noise
    blob_a = [(0, 0), (1, 0), (0, 1)]
    blob_b = [(10, 10)]
    rows = (
        _points_at(blob_a, 5) + _points_at(blob_b, 5) + _points_at([(5, 5)], 2)
    )
    # blob A merges under the min packed id of its three cells
    lbl_a = min(_cid(q, r) for q, r in blob_a)
    for _ in cc_paths():
        got = _run(spark, rows, min_pts=5)
        assert set(got) == set(blob_a + blob_b)  # the sparse hex is dropped
        for cell in blob_a:
            assert got[cell] == (5, lbl_a)
        assert got[(10, 10)] == (5, _cid(10, 10))


def test_diagonal_without_shared_edge_does_not_merge(spark, cc_paths):
    # (0,0) and (1,1) are NOT axial neighbors (distance 2 in hex steps);
    # adding the bridging cell (1,0) merges all three
    rows = _points_at([(0, 0), (1, 1)], 4)
    rows_bridged = _points_at([(0, 0), (1, 1), (1, 0)], 4)
    for _ in cc_paths():
        got = _run(spark, rows, min_pts=4)
        assert got[(0, 0)][1] != got[(1, 1)][1]
        got = _run(spark, rows_bridged, min_pts=4)
        labels = {v[1] for v in got.values()}
        assert labels == {_cid(0, 0)}


def test_min_pts_threshold_is_inclusive(spark, cc_paths):
    rows = _points_at([(2, 3)], 7)
    for _ in cc_paths():
        assert _run(spark, rows, min_pts=7) == {(2, 3): (7, _cid(2, 3))}
        assert _run(spark, rows, min_pts=8) == {}


def test_all_six_neighbor_directions_merge(spark, cc_paths):
    # center plus all 6 axial neighbors -> one 7-cell cluster
    cells = [(0, 0), (1, 0), (-1, 0), (1, -1), (-1, 1), (0, -1), (0, 1)]
    lbl = min(_cid(q, r) for q, r in cells)
    for _ in cc_paths():
        got = _run(spark, _points_at(cells, 3), min_pts=3)
        assert len(got) == 7
        assert {v[1] for v in got.values()} == {lbl}
