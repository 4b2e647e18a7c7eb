"""clean_overlay / dissolve / clusters — Spark results vs driver-side
numpy oracle (the reference's golden-parity test style,
``tests/test_overlay.py:61-95``: row count + area sums to tolerance)."""

import numpy as np
import pytest

from ssb_sgis_spark.kernels import wkb
from ssb_sgis_spark.kernels.boolean import overlay_parts, polygon_area, union_all
from ssb_sgis_spark.operators.dissolve import (
    buffdissexp,
    buffdissexp_by_cluster,
    dissexp,
    dissexp_by_cluster,
)
from ssb_sgis_spark.operators import overlay
from ssb_sgis_spark.operators.overlay import candidate_pairs, clean_overlay
from ssb_sgis_spark.operators.clusters import (
    cluster_points_within_distance,
    connected_components,
    polygon_pair_edges,
)


def _box_ring(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=float)


def _boxes_df(spark, boxes, id_name="bid"):
    rows = [
        (i, bytearray(wkb.encode_polygon([_box_ring(*b)]))) for i, b in enumerate(boxes)
    ]
    return spark.createDataFrame(rows, f"{id_name} long, geometry binary")


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.RandomState(3)
    # coordinates inside the engine's domain (Norway-ish metres)
    ox, oy = 250000.0, 6600000.0

    def rand_boxes(n, seed):
        r = np.random.RandomState(seed)
        out = []
        for _ in range(n):
            x0 = ox + r.rand() * 5000
            y0 = oy + r.rand() * 5000
            out.append((x0, y0, x0 + 300 + r.rand() * 1500, y0 + 300 + r.rand() * 1500))
        return out

    A = rand_boxes(25, 11)
    B = rand_boxes(18, 22)
    return A, B, _boxes_df(spark, A, "aid"), _boxes_df(spark, B, "bid")


def _oracle_pairs(A, B, op):
    """Driver-side numpy oracle: per-pair boolean op results."""
    out = {}
    for i, a in enumerate(A):
        for j, b in enumerate(B):
            parts = overlay_parts(
                [[[_box_ring(*a)]]], [[[_box_ring(*b)]]], op
            )
            if parts:
                out[(i, j)] = polygon_area(parts)
    return out


def test_overlay_intersection(spark, frames):
    A, B, dfa, dfb = frames
    res = clean_overlay(dfa, dfb, "intersection").collect()
    got = {}
    for r in res:
        ga = wkb.decode([r["geometry"]])
        got[(r["aid"], r["bid"])] = polygon_area(ga.geom_parts(0))
    exp = _oracle_pairs(A, B, "intersection")
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-9)


def _diff_oracle(A, B):
    exp = {}
    for i, a in enumerate(A):
        rights = [
            [[_box_ring(*b)]]
            for b in B
            if not (a[2] < b[0] or a[0] > b[2] or a[3] < b[1] or a[1] > b[3])
        ]
        parts = overlay_parts([[[_box_ring(*a)]]], rights, "difference")
        exp[i] = polygon_area(parts) if parts else 0.0
    return exp


def test_overlay_difference(spark, frames):
    A, B, dfa, dfb = frames
    res = clean_overlay(dfa, dfb, "difference", left_id="aid").collect()
    got = {}
    for r in res:
        if r["geometry"] is None:
            continue
        ga = wkb.decode([r["geometry"]])
        got[r["aid"]] = polygon_area(ga.geom_parts(0))
    exp = _diff_oracle(A, B)
    exp = {k: v for k, v in exp.items() if v > 0}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-9)


def test_overlay_union_total_area(spark, frames):
    """union how = per-pair intersection rows + both difference sides
    (reference _union, overlay.py:298-307) — area oracle is the sum of the
    per-pair/per-side kernel results."""
    A, B, dfa, dfb = frames
    res = clean_overlay(dfa, dfb, "union", left_id="aid", right_id="bid").collect()
    total = 0.0
    for r in res:
        if r["geometry"] is None:
            continue
        ga = wkb.decode([r["geometry"]])
        total += polygon_area(ga.geom_parts(0))
    exp = (
        sum(_oracle_pairs(A, B, "intersection").values())
        + sum(_diff_oracle(A, B).values())
        + sum(_diff_oracle(B, A).values())
    )
    assert total == pytest.approx(exp, rel=1e-6)


def test_overlay_identity_and_update_row_semantics(spark, frames):
    A, B, dfa, dfb = frames
    ident = clean_overlay(dfa, dfb, "identity", left_id="aid").collect()
    # every left id appears; intersection rows have bid, difference rows null
    aids = {r["aid"] for r in ident}
    assert aids == set(range(len(A)))
    upd = clean_overlay(dfa, dfb, "update", left_id="aid").collect()
    # update = df1-minus-df2 rows + all df2 rows
    assert sum(1 for r in upd if r["aid"] is None) == len(B)


def test_dissexp_matches_numpy_union(spark, frames):
    A, _, dfa, _ = frames
    res = dissexp(dfa).collect()
    got_total = 0.0
    for r in res:
        ga = wkb.decode([r["geometry"]])
        got_total += polygon_area(ga.geom_parts(0))
    exp_parts = union_all([[[_box_ring(*a)]] for a in A])
    assert got_total == pytest.approx(polygon_area(exp_parts), rel=1e-9)
    assert len(res) == len(exp_parts)


def test_dissexp_by_cluster_equals_dissexp(spark, frames):
    """Reference invariant (test_buffdissexp.py:20-47): cluster-dissolve
    ≡ plain dissolve."""
    A, _, dfa, _ = frames
    plain = dissexp(dfa).collect()
    byc = dissexp_by_cluster(dfa).collect()
    a1 = sorted(
        round(polygon_area(wkb.decode([r["geometry"]]).geom_parts(0)), 6)
        for r in plain
    )
    a2 = sorted(
        round(polygon_area(wkb.decode([r["geometry"]]).geom_parts(0)), 6)
        for r in byc
    )
    assert a1 == a2


def test_buffdissexp_two_points_lens(spark):
    r, d = 400.0, 500.0
    df = spark.createDataFrame(
        [
            (0, bytearray(wkb.encode_point(250000.0, 6600000.0))),
            (1, bytearray(wkb.encode_point(250000.0 + d, 6600000.0))),
        ],
        "pid long, geometry binary",
    )
    res = buffdissexp(df, r, quad_segs=16).collect()
    assert len(res) == 1
    area = polygon_area(wkb.decode([res[0]["geometry"]]).geom_parts(0))
    lens = 2 * r * r * np.arccos(d / (2 * r)) - (d / 2) * np.sqrt(4 * r * r - d * d)
    assert area == pytest.approx(2 * np.pi * r * r - lens, rel=2e-3)


def test_connected_components_chain(spark, cc_paths):
    """A 40-long chain converges via pointer jumping (far fewer than 40
    hash-min rounds)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    verts = spark.range(41).withColumnRenamed("id", "v").selectExpr("v as id")
    for _ in cc_paths():
        comp = connected_components(edges, verts, id_col="id", max_iter=12)
        rows = comp.collect()
        assert len(rows) == 41
        assert all(r["component"] == 0 for r in rows)


def test_connected_components_raises_when_unconverged(spark, cc_paths):
    """One round cannot settle a 40-node path: labels still change in
    the last round, so the call raises instead of returning them."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    verts = spark.range(40)
    for _ in cc_paths():
        with pytest.raises(RuntimeError, match=r"max_iter=1\b.*round 1\b"):
            connected_components(edges, verts, id_col="id", max_iter=1)


def test_connected_components_settling_round_is_last(spark, cc_paths):
    """Disjoint pairs settle in round 1 (its second step lowers no
    label), so ``max_iter=1`` suffices: no extra round just to confirm."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)], "src long, dst long"
    )
    verts = spark.range(20)
    for _ in cc_paths():
        comp = connected_components(edges, verts, id_col="id", max_iter=1)
        got = {r["id"]: r["component"] for r in comp.collect()}
        assert got == {i: i - i % 2 for i in range(20)}


def test_connected_components_evaluates_edges_once(spark, cc_paths):
    """The edge frame (in real use a pair join + Python refine) is
    evaluated exactly once, not once per edge direction."""
    seen = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            seen.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)], "src long, dst long"
    ).mapInPandas(count_rows, schema="src long, dst long")
    verts = spark.range(20)
    for calls, _ in enumerate(cc_paths(), 1):
        connected_components(edges, verts, id_col="id").collect()
        assert seen.value == 10 * calls


def _pair_ids(pairs):
    return {(r["aid"], r["bid__r"]) for r in pairs.select("aid", "bid__r").collect()}


def test_candidate_pairs_plans_with_one_job_and_one_right_decode(spark, frames, jobs_during):
    """Choosing the resolution and the broadcast runs one Spark job, and
    the right side's Python runs once in all: the join reads that job's
    checkpoint instead of re-running it."""
    _, B, dfa, dfb = frames
    seen = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            seen.add(len(pdf))
            yield pdf

    right = dfb.mapInPandas(count_rows, schema=dfb.schema)
    (pairs, _), jobs = jobs_during(lambda: candidate_pairs(dfa, right))
    assert len(jobs) == 1
    pairs.count()
    assert seen.value == len(B)


def test_candidate_pairs_broadcast_decision_at_the_cap(spark, frames, monkeypatch):
    """A right side of n rows is broadcast when the cap is n, shuffled
    when it is n - 1, and the pairs are the same either way."""
    _, B, dfa, dfb = frames
    found = {}
    for cap in (len(B), len(B) - 1):
        monkeypatch.setattr(overlay, "BROADCAST_RIGHT_MAX", cap)
        pairs, _ = candidate_pairs(dfa, dfb)
        plan = pairs._sc._jvm.PythonSQLUtils.explainString(
            pairs._jdf.queryExecution(), "formatted"
        )
        found[cap] = ("BroadcastHashJoin" in plan, _pair_ids(pairs))
    assert found[len(B)][0]
    assert not found[len(B) - 1][0]
    assert found[len(B)][1] == found[len(B) - 1][1]


def test_pairs_do_not_depend_on_resolution(spark, frames):
    """Pairs are exact at every cell resolution (bbox overlap plus the
    reference-cell dedup), which is what lets the profiled resolution
    come from an approximate median."""
    A, B, dfa, dfb = frames

    def overlaps(a, b):
        return a[0] <= b[2] and a[2] >= b[0] and a[1] <= b[3] and a[3] >= b[1]

    exp_pairs = {
        (i, j) for i, a in enumerate(A) for j, b in enumerate(B) if overlaps(a, b)
    }
    exp_edges = {
        (i, j) for i, a in enumerate(A) for j, b in enumerate(A)
        if i < j and overlaps(a, b)
    }
    assert exp_pairs and exp_edges
    for res in (None, 6, 16):
        pairs, used = candidate_pairs(dfa, dfb, res=res)
        assert res is None or used == res
        assert _pair_ids(pairs) == exp_pairs
        edges = polygon_pair_edges(dfa, "aid", res=res).collect()
        assert {(r["src"], r["dst"]) for r in edges} == exp_edges


def test_polygon_pair_edges_job_budget(spark, frames, jobs_during):
    """The self-join plans with the one bounds pin when it picks the
    resolution, and with no job when the resolution is given: the
    shared candidate join adds no profile job of its own."""
    _, _, dfa, _ = frames
    for res, n_jobs in ((None, 1), (8, 0)):
        edges, jobs = jobs_during(lambda: polygon_pair_edges(dfa, "aid", res=res))
        assert len(jobs) == n_jobs
        assert edges.count() > 0


def test_candidate_pairs_with_res_and_broadcast_given_runs_no_job(spark, frames, jobs_during):
    """With both plan choices given nothing runs at call time, even when
    the left plan holds a shuffle (a ``distinct``): the left side is
    spread without asking AQE for its partition count."""
    _, _, dfa, _ = frames
    d = dfa.distinct()
    (pairs, _), jobs = jobs_during(
        lambda: candidate_pairs(d, d, res=10, broadcast_right=False)
    )
    assert jobs == []
    assert "Repartition" in pairs._jdf.queryExecution().analyzed().toString()

    def ids(p):
        return {(r["aid"], r["aid__r"]) for r in p.select("aid", "aid__r").collect()}

    want, _ = candidate_pairs(dfa, dfa, res=10, broadcast_right=False)
    assert ids(pairs) == ids(want)


def test_connected_components_driver_path_job_budget(spark, jobs_during):
    """On the driver path CC runs only the edge pin (with the jobs AQE
    runs under it) and one collect, however many rounds the labels take;
    the distributed rounds would add a checkpoint job per round."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    verts = spark.range(45)
    comp, jobs = jobs_during(lambda: connected_components(edges, verts, id_col="id"))
    assert len(jobs) <= 3
    assert comp.count() == 45


def test_buffdissexp_by_cluster_job_budget(spark, frames, jobs_during):
    """Clustering before the dissolve runs a fixed number of eager jobs on
    a small input: the ``_cid`` pin, the bounds pin, the edge pin and the
    driver-side labels' collect, plus the jobs AQE runs for the shuffle
    and broadcast stages under them."""
    _, _, dfa, _ = frames
    out, jobs = jobs_during(lambda: buffdissexp_by_cluster(dfa, 50.0))
    assert len(jobs) <= 9
    assert out.count() > 0


def test_cluster_points_within_distance_vs_union_find(spark, cc_paths):
    rng = np.random.RandomState(5)
    n = 120
    xs = 250000.0 + rng.rand(n) * 20000
    ys = 6600000.0 + rng.rand(n) * 20000
    d = 1500.0
    df = spark.createDataFrame(
        [(int(i), float(xs[i]), float(ys[i])) for i in range(n)],
        "uid long, x double, y double",
    )
    got = [
        {r["uid"]: r["cluster"] for r in cluster_points_within_distance(df, d, "uid").collect()}
        for _ in cc_paths()
    ]
    # union-find oracle
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(n):
        for j in range(i + 1, n):
            if (xs[i] - xs[j]) ** 2 + (ys[i] - ys[j]) ** 2 < d * d:
                parent[find(i)] = find(j)
    # min-id per component
    comp_min = {}
    for i in range(n):
        root = find(i)
        comp_min[root] = min(comp_min.get(root, i), i)
    exp = {i: comp_min[find(i)] for i in range(n)}
    assert got == [exp, exp]
