"""End-to-end pipeline test on the synthetic jagged event fixture
(reference test style: tests/test_continuous.py chains stages 1->2->3).

The oracle here is an INDEPENDENT pandas/numpy re-implementation of the
same selection/pairing/kinematics — written against the spec, not the
Spark code — compared row-by-row (rtol 1e-12 absorbs formula-association
and libm differences)."""

import math

import numpy as np
import pandas as pd
import pytest

from copperhead_spark.fixtures import events_fixture, generate_events
from copperhead_spark.pipeline import stage1_arrays, stage2, stage3

N_EVENTS = 1500
SEED = 7


def mu_sf(pt: float) -> float:
    return 0.9712 if pt < 40 else (0.9905 if pt < 80 else 0.9951)


def wrap_dphi(d: float) -> float:
    return d - 2 * math.pi * math.floor((d + math.pi) / (2 * math.pi))


def p4(pt, eta, phi, m):
    px, py = pt * math.cos(phi), pt * math.sin(phi)
    pz = pt * math.sinh(eta)
    e = math.sqrt(px * px + py * py + pz * pz + m * m)
    return px, py, pz, e


def pair_kin(o1, o2, m1, m2):
    p1, p2 = p4(*o1, m1), p4(*o2, m2)
    qx, qy, qz, qe = (a + b for a, b in zip(p1, p2))
    mass = math.sqrt(max(qe * qe - qx * qx - qy * qy - qz * qz, 0.0))
    pt = math.sqrt(qx * qx + qy * qy)
    rap = 0.5 * math.log((qe + qz) / (qe - qz))
    deta = o1[1] - o2[1]
    dphi = wrap_dphi(o1[2] - o2[2])
    dr = math.sqrt(deta * deta + dphi * dphi)
    return mass, pt, rap, deta, dphi, dr


def reference_stage1(rows):
    """Pandas/numpy mirror of stage1_arrays written from the spec."""
    out = []
    for (run, event, genw, hlt, flag, met, pu, muons, jets, fsr) in rows:
        if not (hlt and flag):
            continue
        sel = []
        for idx, (pt, eta, phi, q, iso, mid, fidx) in enumerate(muons):
            pt_corr = pt + (fsr[fidx][0] * 0.1 if 0 <= fidx < len(fsr) else 0.0)
            if pt_corr > 20 and abs(eta) < 2.4 and iso < 0.25 and mid:
                sel.append((pt_corr, eta, phi, q, iso, idx))
        if len(sel) != 2:
            continue
        charges = [s[3] for s in sel]
        if (-1 if sum(1 for c in charges if c < 0) % 2 else 1) != -1:
            continue
        sel.sort(key=lambda s: (-s[0], s[5]))
        mu1, mu2 = sel[0], sel[1]
        mass, pt, rap, deta, dphi, dr = pair_kin(mu1[:3], mu2[:3], 0.105658, 0.105658)
        if 76 < mass < 106:
            region = "z-peak"
        elif 115 <= mass < 135:
            region = "h-peak"
        elif 110 <= mass < 115 or 135 <= mass < 150:
            region = "h-sidebands"
        else:
            continue
        # jets
        clean = []
        for jdx, (jpt, jeta, jphi, jm, jid, qgl) in enumerate(jets):
            if not (jpt > 25 and abs(jeta) < 4.7 and jid >= 2):
                continue
            near = False
            for mu in (mu1, mu2):
                de = jeta - mu[1]
                dp = wrap_dphi(jphi - mu[2])
                if de * de + dp * dp < 0.4 * 0.4:
                    near = True
            if not near:
                clean.append((jpt, jeta, jphi, jm, qgl, jdx))
        njets = len(clean)
        clean.sort(key=lambda s: (-s[0], s[5]))
        jj = (np.nan,) * 6
        jet1_pt = clean[0][0] if njets >= 1 else np.nan
        if njets >= 2:
            j1, j2 = clean[0], clean[1]
            jj = pair_kin(j1[:3], j2[:3], j1[3], j2[3])
        wgt = genw * mu_sf(mu1[0]) * mu_sf(mu2[0])
        out.append(
            dict(
                event=event,
                region=region,
                dimuon_mass=mass,
                dimuon_pt=pt,
                dimuon_rap=rap,
                dimuon_dR=dr,
                mu1_pt=mu1[0],
                mu2_pt=mu2[0],
                njets=njets,
                jet1_pt=jet1_pt,
                jj_mass=jj[0],
                wgt_nominal=wgt,
            )
        )
    return pd.DataFrame(out).sort_values("event").reset_index(drop=True)


@pytest.fixture(scope="module")
def flat_and_ref(spark):
    rows = generate_events(N_EVENTS, SEED)
    events = events_fixture(spark, N_EVENTS, SEED)
    flat = stage1_arrays(events)
    ref = reference_stage1(rows)
    got = (
        flat.select(
            "event", "region", "dimuon_mass", "dimuon_pt", "dimuon_rap", "dimuon_dR",
            "mu1_pt", "mu2_pt", "njets", "jet1_pt", "jj_mass", "wgt_nominal",
        )
        .toPandas()
        .sort_values("event")
        .reset_index(drop=True)
    )
    return flat, got, ref


def test_stage1_matches_reference(flat_and_ref):
    _, got, ref = flat_and_ref
    assert len(got) == len(ref) > 30, (len(got), len(ref))
    assert got["event"].tolist() == ref["event"].tolist()
    assert got["region"].tolist() == ref["region"].tolist()
    assert got["njets"].tolist() == ref["njets"].tolist()
    for col in ("dimuon_mass", "dimuon_pt", "dimuon_rap", "dimuon_dR",
                "mu1_pt", "mu2_pt", "jet1_pt", "jj_mass", "wgt_nominal"):
        a = got[col].to_numpy(dtype=float)
        b = ref[col].to_numpy(dtype=float)
        both_nan = np.isnan(a) & np.isnan(b)
        assert (both_nan | np.isclose(a, b, rtol=1e-12, atol=1e-12)).all(), col


def test_stage2_stage3_yields(flat_and_ref):
    flat, got, ref = flat_and_ref
    hist = stage2(flat)
    yields, templates = stage3(hist)
    # yield check vs the pandas mirror (fixed-point at scale 6 in stage2)
    ref_y = (
        ref.groupby("region")["wgt_nominal"]
        .apply(lambda s: np.sum(np.round(s * 1e6).astype(np.int64)) / 1e6)
        .to_dict()
    )
    got_y = yields.groupby("region")["yield"].sum().to_dict()
    for r, v in ref_y.items():
        assert abs(got_y[r] - v) < 1e-9, (r, got_y[r], v)
    # histogram integral == yields (no event lost to binning: clamp bins)
    assert set(templates) == set(map(tuple, yields[["region", "channel"]].to_numpy()))


def test_stage2_variations_fanout(flat_and_ref):
    from copperhead_spark.pipeline import stage2_variations

    flat, got, ref = flat_and_ref
    hist = stage2_variations(flat).toPandas()
    assert set(hist["variation"]) == {"nominal", "muid_up", "muid_down"}
    # up/down totals = nominal totals scaled by 1.01^2 / 0.99^2 exactly
    tot = hist.groupby("variation")["value"].sum()
    ref_nom = ref["wgt_nominal"]
    for v, scale in (("muid_up", 1.01**2), ("muid_down", 0.99**2)):
        expected = np.sum(np.round(ref_nom * scale * 1e6).astype(np.int64)) / 1e6
        assert abs(tot[v] - expected) < 5e-6, (v, tot[v], expected)


def test_stage2_unbinned_projection(flat_and_ref):
    from copperhead_spark.pipeline import stage2_unbinned

    flat, got, ref = flat_and_ref
    ub = stage2_unbinned(flat).toPandas()
    assert list(ub.columns) == ["dimuon_mass", "wgt_nominal"]
    assert len(ub) == len(ref)


def test_stage1_null_semantics(flat_and_ref):
    flat, got, _ = flat_and_ref
    # events with <2 clean jets must have NULL jj columns, njets filled 0
    zero = got[got["njets"] < 2]
    assert zero["jj_mass"].isna().all()
    assert (got["njets"] >= 0).all()


def test_stage1_partitioned_sink_roundtrip(flat_and_ref, spark, tmp_path):
    """The stage-1 -> stage-2 contract: flat table written partitioned by
    region (dataset analogue, io.py:25-37), re-read via partition
    discovery with a pruning predicate, identical rows back."""
    from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned

    flat, got, _ = flat_and_ref
    out = str(tmp_path / "stage1_out")
    write_partitioned(flat, out, partition_by=("region",))
    back = read_partitioned(spark, out)
    assert back.count() == len(got)
    peak = back.filter("region = 'h-peak'").select("event").toPandas()
    assert sorted(peak["event"]) == sorted(got[got.region == "h-peak"]["event"])


def test_stage1_arrays_identical_to_stage1(spark):
    """stage1_arrays must be identical to the stage-1 DuckDB oracle
    (plans/hmm_oracle.py), an independent relational execution
    over the same hash-generated fixture (LATERAL explode, ROW_NUMBER
    top-2, NOT EXISTS dR cleaning).  The front-half columns contain no
    transcendentals, so the contract is exact equality: same events,
    same regions, bit-equal doubles, and NULL (never NaN or 0) where a
    jet is absent.  This fixture's survivors all carry 2-4 clean jets;
    absent jets are pinned by test_round13's null-jets fixture."""
    import duckdb

    from copperhead_spark.fixtures import events_fixture_distributed
    from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

    n = 20000
    cols = [
        "mu1_pt", "mu1_eta", "mu1_phi", "mu2_pt", "mu2_eta", "mu2_phi",
        "njets",
        "jet1_pt", "jet1_eta", "jet1_phi", "jet1_mass",
        "jet2_pt", "jet2_eta", "jet2_phi", "jet2_mass",
    ]
    got = [
        tuple(r)
        for r in stage1_arrays(events_fixture_distributed(spark, n))
        .select("event", "region", *cols)
        .orderBy("event")
        .collect()
    ]
    ref = duckdb.connect().execute(
        f"WITH {hmm_stage_ctes(n)} "
        f"SELECT f.id, s.region, {', '.join('f.' + c for c in cols)} "
        "FROM flat f JOIN sel s USING (id) ORDER BY f.id"
    ).fetchall()
    assert len(got) > 100, len(got)
    assert [r[:2] for r in got] == [r[:2] for r in ref]
    for i, c in enumerate(cols, start=2):
        bad = [(g[0], g[i], r[i]) for g, r in zip(got, ref) if g[i] != r[i]]
        assert not bad, (c, bad[:5])


def test_stage1_arrays_plan_shape(spark):
    """Scale invariants of the stage-1 plan: no Exchange before the
    stage-2 histogram (the single shuffle) and exactly ONE Python
    crossing (the Arrow kernel), with no array HOF sorting left."""
    from copperhead_spark.pipeline import stage2_variations

    ev = events_fixture(spark, 200, SEED)
    plan = (
        stage2_variations(stage1_arrays(ev))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("MapInArrow") == 1, plan.count("MapInArrow")
    assert "array_sort" not in plan


def test_distributed_fixture_feeds_pipeline(spark):
    """The executor-side generator (no driver loop) must populate every
    region with the same schema as the python fixture."""
    from copperhead_spark.fixtures import EVENT_SCHEMA, events_fixture_distributed

    ev = events_fixture_distributed(spark, 20000)
    assert [f.name for f in ev.schema.fields] == [f.name for f in EVENT_SCHEMA.fields]
    regions = {
        r["region"]
        for r in stage1_arrays(ev).select("region").distinct().collect()
    }
    assert regions == {"z-peak", "h-peak", "h-sidebands"}
