"""``hmm_root``: the paper's own batch chain, ROOT bytes to datacard and fits.

Inputs: several zlib-compressed NanoAOD-layout ROOT files holding the
events of one id window of ``fixtures.events_fixture_distributed``.  The
seed picks the window; every fixture value is an integer hash of the
event id, so the window fixes the input bit for bit.  One Spark task
encodes each file with ``sources.rootio.write_tree``.

One pass calls, in order: ``root_ingest.read_nanoaod_files`` (entry
pre-scan, then chunked decode), ``pipeline.stage1_arrays``,
``parquet_io.write_partitioned`` + ``read_partitioned``,
``inference.attach_hmm_scores``, ``pipeline.stage2_variations`` (one
call for the dimuon mass, one for the MVA score), ``pipeline.stage3``,
``templates.write_root_templates`` + ``make_datacard`` and
``fits.fit_families_all``.  The traced pass calls ``scan_entries`` and
``read_nanoaod`` separately, the two halves ``read_nanoaod_files`` runs,
so each gets a span.

Oracle: the DuckDB chain oracle ``plans.hmm_oracle.hmm_stage_ctes`` over
the same id window, scored with ``inference.hmm_mva_sql``, gives every
histogram cell; the pass's cells must match it value for value.  The
datacard's channels must be the oracle's, and each rate (nominal and
muid-up) must equal the oracle's exact fixed-point yield to a relative
1e-9: the pass's rates are float sums of its (exact) bins, in Spark's
order.  Their text is not compared: every yield is a multiple of 1e-6, so
about one rate in a hundred sits exactly on a rounding boundary of the
card's 4 decimals, where the float sum's last bit picks the printed digit.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd

N_FILES = 4
BASKET_ENTRIES = 4096
MASS_BINS = ("dimuon_mass", 76.0, 150.0, 37)
SCORE_BINS = ("score", -3.0, 2.0, 20)
SIGNAL = ("vbf",)
FIT_CATEGORIES = 4
YIELD_RTOL = 1e-9

MU_F = ("pt", "eta", "phi", "charge", "pfRelIso04_all", "mediumId", "fsrPhotonIdx")
JET_F = ("pt", "eta", "phi", "mass", "jetId", "qgl")
FSR_F = ("pt", "eta", "phi")
EV_FLAT = ("run", "event", "genWeight", "HLT_IsoMu24", "Flag_goodVertices",
           "MET_pt", "Pileup_nTrueInt")
COLLECTIONS = (("Muon", MU_F, "nMuon"), ("Jet", JET_F, "nJet"),
               ("FsrPhoton", FSR_F, "nFsrPhoton"))
BRANCHES = list(EV_FLAT) + [f"{c}_{f}" for c, fields, _ in COLLECTIONS for f in fields]
VAR_SUFFIX = {"nominal": "", "muid_up": "_muidUp", "muid_down": "_muidDown"}


def _write_files(batches_iter, out_dir: str, tree: str = "Events"):
    """mapInArrow body: one partition holds one file's events."""
    import pyarrow as pa

    from copperhead_spark.sources.rootio import write_tree

    batches = list(batches_iter)
    if not batches:
        return
    tab = pa.Table.from_batches(batches).sort_by("event")
    path = os.path.join(out_dir, f"nanoaod_{tab.column('event')[0].as_py()}.root")
    columns = {c: tab.column(c).to_numpy() for c in EV_FLAT}
    jagged = {}
    for coll, fields, count_name in COLLECTIONS:
        lists = tab.column(coll).combine_chunks()
        columns[count_name] = np.diff(lists.offsets.to_numpy()).astype(np.int32)
        structs = lists.flatten()
        for f in fields:
            values = structs.field(f).to_numpy(zero_copy_only=False)
            jagged[f"{coll}_{f}"] = (count_name, values)
    write_tree(path, tree, columns, jagged, basket_entries=BASKET_ENTRIES, compress=6)
    yield pa.record_batch({
        "path": pa.array([path]),
        "entries": pa.array([tab.num_rows], pa.int64()),
        "bytes": pa.array([os.path.getsize(path)], pa.int64()),
    })


class _WindowedRange:
    """Stands in for the session inside ``events_fixture_distributed``,
    whose only session call is ``spark.range(n)``: that range becomes the
    seed's id window, split into one partition per output file."""

    def __init__(self, spark, lo: int, n: int):
        self._spark, self._lo, self._n = spark, lo, n

    def range(self, n: int):
        if n != self._n:
            raise ValueError(f"fixture asked for {n} events, window holds {self._n}")
        return self._spark.range(self._lo, self._lo + n, 1, N_FILES)


class HmmRoot:
    items = "events"  # what items_per_s counts
    # passes are steady from the second on (within ~5% across runs), so
    # one warm-up pass, and one timed pass at least
    warmup_passes = 1
    min_timed_passes = 1

    def __init__(self, n_events: int, workdir: str, seed: int):
        self.n = n_events
        self.lo = (seed % 10_000) * n_events
        self.hi = self.lo + n_events
        self.workdir = workdir
        self.paths: list[str] = []
        self.input_bytes = 0
        self.sizes = {"events": n_events, "event_id_lo": self.lo, "files": N_FILES}

    # ---- set-up -------------------------------------------------------
    def make_inputs(self, spark) -> None:
        """Encode the id window as N_FILES ROOT files (contiguous event
        ranges, one Spark task each), replacing earlier ones."""
        from copperhead_spark.fixtures import events_fixture_distributed

        out_dir = os.path.join(self.workdir, "root")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        written = (
            events_fixture_distributed(_WindowedRange(spark, self.lo, self.n), self.n)
            .mapInArrow(
                lambda it: _write_files(it, out_dir),
                "path string, entries long, bytes long",
            )
            .collect()
        )
        if sum(r["entries"] for r in written) != self.n:
            raise RuntimeError(f"ROOT encode wrote {written}, expected {self.n} events")
        self.paths = sorted(r["path"] for r in written)
        self.input_bytes = sum(r["bytes"] for r in written)
        self.sizes["input_bytes"] = self.input_bytes

    # ---- oracle -------------------------------------------------------
    def oracle(self) -> dict:
        """Expected histogram cells and datacard yields, from DuckDB."""
        import duckdb

        from copperhead_spark.functions.exact import exact_sum_sql
        from copperhead_spark.ml.inference import hmm_mva_sql
        from copperhead_spark.operators.histogram import bin_index_sql
        from copperhead_spark.plans.hmm_oracle import hmm_stage_ctes

        ctes = hmm_stage_ctes(self.n)
        old = f"FROM range({self.n}) t(id)"
        if ctes.count(old) != 1:
            raise RuntimeError("hmm_stage_ctes no longer reads one range(n); update the window shift")
        ctes = ctes.replace(old, f"FROM range({self.lo}, {self.hi}) t(id)")
        stacks = []
        for var, lo, hi, nbins in (MASS_BINS, SCORE_BINS):
            for v in VAR_SUFFIX:
                stacks.append(
                    f"SELECT '{var}' AS var, region, channel, '{v}' AS variation,"
                    f" {bin_index_sql(var, lo, hi, nbins)} AS bin_idx, wgt_{v} AS wgt"
                    " FROM scored"
                )
        union = "\nUNION ALL\n".join(stacks)
        cells_sql = f"""
WITH {ctes},
scored AS (SELECT *, ({hmm_mva_sql("id")}) AS score FROM sel),
stacked AS ({union})
SELECT var, region, channel, variation, CAST(bin_idx AS BIGINT) AS bin_idx,
       {exact_sum_sql("wgt", 6)} AS value,
       {exact_sum_sql("wgt * wgt", 12)} AS sumw2
FROM stacked GROUP BY 1, 2, 3, 4, 5
"""
        yields_sql = f"""
WITH {ctes}
SELECT channel, {exact_sum_sql("wgt_nominal", 6)} AS rate,
       {exact_sum_sql("wgt_muid_up", 6)} AS rate_up
FROM sel WHERE region = 'h-peak' GROUP BY 1
"""
        con = duckdb.connect()
        try:
            cells = con.execute(cells_sql).df()
            ylds = con.execute(yields_sql).df()
        finally:
            con.close()
        ylds = ylds[ylds.rate > 0].sort_values("channel").reset_index(drop=True)
        return {"cells": cells, "card_yields": ylds}

    # ---- one pass -----------------------------------------------------
    def run_pass(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from copperhead_spark.finishing.fits import fit_families_all
        from copperhead_spark.finishing.templates import write_root_templates
        from copperhead_spark.ml.inference import attach_hmm_scores
        from copperhead_spark.pipeline import stage1_arrays, stage2_variations, stage3
        from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned
        from copperhead_spark.sources.root_ingest import (
            read_nanoaod,
            read_nanoaod_files,
            rootio_decoder,
            scan_entries,
        )

        chunk = max(self.n // (2 * N_FILES), 1)
        out_dir = os.path.join(self.workdir, "pass")
        os.makedirs(out_dir, exist_ok=True)
        if tr.enabled:
            with tr.span("root_ingest.scan_entries"):
                entries = [(r["path"], r["entries"]) for r in scan_entries(spark, self.paths).collect()]
            with tr.span("root_ingest.read_nanoaod") as sp:
                raw = tr.materialize(read_nanoaod(
                    spark, entries, BRANCHES, chunk_size=chunk,
                    decoder=rootio_decoder,
                ))
                sp["bytes_read"] = self.input_bytes
                sp["events"] = raw.count()
        else:
            raw = read_nanoaod_files(
                spark, self.paths, BRANCHES, chunk_size=chunk, decoder=rootio_decoder
            )
        events = raw.select(
            *EV_FLAT,
            *[
                F.arrays_zip(*[F.col(f"{c}_{f}").alias(f) for f in fields]).alias(c)
                for c, fields, _ in COLLECTIONS
            ],
        )
        with tr.span("pipeline.stage1_arrays") as sp:
            flat = tr.materialize(stage1_arrays(events))
            if tr.enabled:
                sp["rows_out"] = flat.count()
        pq_dir = os.path.join(out_dir, "stage1.parquet")
        with tr.span("parquet_io.write_partitioned") as sp:
            write_partitioned(flat, pq_dir, partition_by=("region",))
            sp["bytes_written"], sp["files"] = _tree_bytes(pq_dir, ".parquet")
        with tr.span("parquet_io.read_partitioned"):
            back = tr.materialize(read_partitioned(spark, pq_dir))
        with tr.span("inference.attach_hmm_scores"):
            scored = tr.materialize(attach_hmm_scores(back, fold_col="event", score_col="score"))
        with tr.span("pipeline.stage2_variations") as sp:
            hists = [
                stage2_variations(scored, var=var, lo=lo, hi=hi, nbins=nbins)
                .withColumn("var", F.lit(var))
                for var, lo, hi, nbins in (MASS_BINS, SCORE_BINS)
            ]
            hist = tr.materialize(hists[0].unionByName(hists[1]))
            if tr.enabled:
                sp["cells_out"] = hist.count()
        with tr.span("pipeline.stage3"):
            # stage3 groups by (region, channel): fold variable and
            # variation into the channel key so each template is one group
            yields, templates = stage3(hist.withColumn(
                "channel", F.concat_ws("|", "channel", "var", "variation")
            ))
        cells = _cells(templates)
        with tr.span("templates.write_root_templates") as sp:
            for var, lo, hi, nbins in (MASS_BINS, SCORE_BINS):
                write_root_templates(
                    _dense(cells[cells["var"] == var], nbins),
                    os.path.join(out_dir, f"templates_{var}.root"), xlo=lo, xhi=hi,
                )
            sp["bytes_written"], _ = _tree_bytes(out_dir, ".root")
        with tr.span("templates.make_datacard"):
            card_yields = _card_yields(yields)
            with open(os.path.join(out_dir, "datacard.txt"), "w") as fh:
                fh.write(_datacard(card_yields))
        with tr.span("fits.fit_families_all") as sp:
            fits = fit_families_all(_fit_groups(cells))
            results = [r for rs in fits.values() for r in rs]
            sp["fits_attempted"] = len(results)
            sp["fits_finite"] = sum(math.isfinite(r.chi2) for r in results)
        return {"cells": cells, "card_yields": card_yields}

    def check(self, out: dict, expected: dict) -> str:
        """'' when the pass matches the oracle, else what differs."""
        from copperhead_spark.testing import compare_frames

        rep = compare_frames("hmm_root.cells", out["cells"], expected["cells"])
        if not rep.ok:
            return str(rep)
        got, exp = out["card_yields"], expected["card_yields"]
        if list(got.channel) != list(exp.channel):
            return f"datacard channels {list(got.channel)} vs oracle {list(exp.channel)}"
        for col in ("rate", "rate_up"):
            a, b = got[col].to_numpy(), exp[col].to_numpy()
            rel = np.abs(a - b) / np.maximum(np.abs(b), 1.0)
            if (rel > YIELD_RTOL).any():
                return f"datacard {col} {a.tolist()} vs oracle {b.tolist()}"
        return ""


def _tree_bytes(root: str, suffix: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _cells(templates: dict) -> pd.DataFrame:
    """stage3's per-group [bin_idx, value, sumw2] arrays back to one
    cell table keyed like the oracle's."""
    rows = []
    for (region, key), arr in templates.items():
        channel, var, variation = key.split("|")
        for bin_idx, value, sumw2 in arr:
            rows.append((var, region, channel, variation, int(bin_idx), value, sumw2))
    return pd.DataFrame(
        rows,
        columns=["var", "region", "channel", "variation", "bin_idx", "value", "sumw2"],
    )


def _dense(cells: pd.DataFrame, nbins: int) -> dict:
    """One TH1 per (region, channel, variation), under/overflow folded
    into the edge bins as ``templates.to_template_arrays`` does."""
    out = {}
    for (region, channel, variation), g in cells.groupby(["region", "channel", "variation"]):
        values, sumw2 = np.zeros(nbins), np.zeros(nbins)
        idx = np.clip(g.bin_idx.to_numpy(), 0, nbins - 1)
        np.add.at(values, idx, g.value.to_numpy())
        np.add.at(sumw2, idx, g.sumw2.to_numpy())
        out[f"{region}__{channel}{VAR_SUFFIX[variation]}"] = {"values": values, "sumw2": sumw2}
    return out


def _datacard(card_yields: pd.DataFrame) -> str:
    """Datacard of the per-channel rates, with the muid up/nominal ratio
    as its lnN systematic."""
    from copperhead_spark.finishing.templates import make_datacard

    ch, rate, up = card_yields.channel, card_yields.rate, card_yields.rate_up
    return make_datacard(
        pd.DataFrame({"group": ch, "yield": rate}),
        signal_groups=SIGNAL,
        lnN={"muid": {c: round(u / r, 3) for c, r, u in zip(ch, rate, up)}},
    )


def _card_yields(yields: pd.DataFrame) -> pd.DataFrame:
    """stage3's yields to the card's rates: the h-peak mass yield per
    channel (nominal and muid-up), channels with a positive rate."""
    parts = yields["channel"].str.split("|", expand=True)
    y = yields.assign(ch=parts[0], var=parts[1], variation=parts[2])
    y = y[(y.region == "h-peak") & (y["var"] == MASS_BINS[0])]
    nom = y[y.variation == "nominal"].set_index("ch")["yield"]
    up = y[y.variation == "muid_up"].set_index("ch")["yield"]
    chans = sorted(c for c in nom.index if nom[c] > 0)
    return pd.DataFrame({
        "channel": chans,
        "rate": [nom[c] for c in chans],
        "rate_up": [up[c] for c in chans],
    })


def _fit_groups(cells: pd.DataFrame) -> dict:
    """(region, channel) -> (x, y, sigma) of the nominal mass spectrum,
    for the FIT_CATEGORIES categories with the most populated bins (ties
    by key).  A fixed count keeps the fit work the same for every seed;
    at 50k events the four best-filled categories have at least 8
    populated bins for every seed tried."""
    _, lo, hi, nbins = MASS_BINS
    width = (hi - lo) / nbins
    m = cells[(cells["var"] == MASS_BINS[0]) & (cells.variation == "nominal")
              & (cells.bin_idx >= 0) & (cells.bin_idx < nbins)]
    by_key = dict(list(m.groupby(["region", "channel"])))
    best = sorted(by_key, key=lambda k: (-len(by_key[k]), k))[:FIT_CATEGORIES]
    groups = {}
    for key in sorted(best):
        g = by_key[key].sort_values("bin_idx")
        x = lo + (g.bin_idx.to_numpy() + 0.5) * width
        sigma = np.sqrt(np.maximum(g.sumw2.to_numpy(), 1e-12))
        groups[key] = (x, g.value.to_numpy(), sigma)
    return groups
