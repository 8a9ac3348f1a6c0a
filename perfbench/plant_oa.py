"""plant_oa: the paper's own workload. A seeded ENGIE-shaped plant
(``tests/windfixtures.make_end_to_end_plant``) is staged to parquet and
validated into ``PlantData``; one pass runs ElectricalLosses (with
UQ), MonteCarloAEP (``distributed=True``) and EYAGapAnalysis on it,
and every pass's results are checked against the planted truths with
the tolerances of ``tests/test_end_to_end_plant``.

TurbineLongTermGrossEnergy, WakeLosses and StaticYawMisalignment are
not part of the pass. On 4 cores they cost 16-21 s, 29-38 s and
5.5-6.5 s per warm pass; a run has to fit set-up, a cold pass, a
warm-up and several timed passes into well under a minute.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import OpCounter, fresh_dir

META = {
    "latitude": 47.9, "longitude": 5.12, "capacity": 8.0,
    "scada": {"frequency": "10min"},
    "meter": {"frequency": "10min"},
    "curtail": {"frequency": "10min"},
    "reanalysis": {"era5": {"frequency": "h"}},
}
TABLES = ("scada", "meter", "curtail", "asset", "reanalysis")
# MonteCarloAEP needs every calendar month: 365 days is the shortest
# period of record it accepts
POR_DAYS = 365
AEP_SIMS = 20
ELEC_SIMS = 100


def _stage(pdf, path: str) -> None:
    """Write one pandas table as a single parquet file with UTC-adjusted
    microsecond timestamps, the layout Spark's own writer produces."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    fields = [
        pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]
    pq.write_table(table.cast(pa.schema(fields)), path)


class PlantOA:
    name = "plant_oa"
    warmup_passes = 3

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.aep_sims = 4 if tiny else AEP_SIMS
        self.elec_sims = 10 if tiny else ELEC_SIMS
        self.counter = OpCounter()
        self.setup_layers: list[dict] = []
        self._n_setup = 0

    # ---------------------------------------------------------- setup
    def setup(self) -> None:
        from openoa_spark.plant import PlantData
        from tests.windfixtures import make_end_to_end_plant

        self._n_setup += 1
        t0 = time.perf_counter()
        tables = make_end_to_end_plant(por_days=POR_DAYS, seed=self.seed)
        d = fresh_dir(os.path.join(self.work, f"plant{self._n_setup}"))
        for name in TABLES:
            _stage(tables[name], os.path.join(d, f"{name}.parquet"))
        stage_ms = (time.perf_counter() - t0) * 1000.0

        rd = lambda n: self.spark.read.parquet(os.path.join(d, f"{n}.parquet"))  # noqa: E731
        t0 = time.perf_counter()
        with self.tracer.job_group("plant") as jobs:
            plant = PlantData(
                self.spark, META,
                analysis_type=["MonteCarloAEP"],
                scada=rd("scada"), meter=rd("meter"), curtail=rd("curtail"),
                asset=rd("asset"), reanalysis={"era5": rd("reanalysis")},
            )
        load_ms = (time.perf_counter() - t0) * 1000.0
        self.setup_layers.append({
            "sources.stage_ms": stage_ms,
            "plant.load_ms": load_ms,
            "plant.load_jobs": jobs.get("jobs", 0),
        })
        self.tables, self.plant = tables, plant

    # ----------------------------------------------------------- pass
    def run_pass(self) -> dict[str, float]:
        from openoa_spark.analysis.aep import MonteCarloAEP
        from openoa_spark.analysis.electrical_losses import electrical_losses
        from openoa_spark.analysis.eya import (
            EYAEstimate, EYAGapAnalysis, OAResults,
        )

        plant, t = self.plant, self.tables
        res: dict = {}

        def elec():
            el = electrical_losses(
                plant.scada.selectExpr("time", "asset_id", "WTUR_SupWh as energy_kwh"),
                plant.meter.selectExpr("time", "MMTR_SupWh as energy_kwh"),
                num_sim=self.elec_sims,
            )
            return el, [] if abs(el.loss - t["truth_elec_loss"]) <= 1e-6 else [
                f"elec loss {el.loss}"]

        def eya(aep_res, el):
            # fed by the other pipelines' recovered values
            eya_in = EYAEstimate(
                aep=t["truth_net_annual_gwh"] * 1.05,
                gross_energy=t["truth_gross_annual_gwh"] * 1.05,
                availability_losses=0.02, electrical_losses=0.025,
                turbine_losses=0.03, blade_degradation_losses=0.01,
                wake_losses=0.05,
            )
            oa = OAResults(
                aep=aep_res.aep_mean,
                availability_losses=float(aep_res.results["avail_pct"].mean()),
                electrical_losses=el.loss,
                turbine_ideal_energy=t["truth_gross_annual_gwh"],
            )
            gap = EYAGapAnalysis(eya_in, oa)
            data = gap.run()

            def close(x, y):
                return abs(x - y) <= 1e-6 * max(abs(y), 1e-12)

            bad = [w for ok, w in (
                (close(data[0], eya_in.aep), "eya first bar"),
                (close(sum(data), oa.aep), "eya does not close on the OA AEP"),
                (close(gap.waterfall[-1], oa.aep), "eya waterfall end"),
            ) if not ok]
            return bad

        def aep():
            """MonteCarloAEP, then the EYA gap analysis it feeds (pure
            Python, well under a millisecond: too small to be an op of
            its own in the geometric mean)."""
            mc = MonteCarloAEP(plant, uncertainty_windiness=(1, 2))
            mc.prepare()
            a = mc.run(num_sim=self.aep_sims, distributed=True)
            bad = []
            if abs(a.aep_mean - t["truth_net_annual_gwh"]) > 0.10 * t["truth_net_annual_gwh"]:
                bad.append(f"aep {a.aep_mean}")
            if not a.results["r2"].median() > 0.5:
                bad.append("aep r2")
            if abs(a.results["avail_pct"].mean() - t["truth_avail"]) > 0.004:
                bad.append("aep avail_pct")
            if res.get("elec") is None:
                return a, bad + ["no electrical losses to feed the EYA gap"]
            with self.tracer.span("analysis.eya_ms"):
                bad += eya(a, res["elec"])
            return a, bad

        times: dict[str, float] = {}
        for name, fn in (("elec", elec), ("aep", aep)):
            t0 = time.perf_counter()
            with self.tracer.job_group(name) as jobs:
                res[name] = self.counter.run(name, fn)
            ms = (time.perf_counter() - t0) * 1000.0
            times[name] = ms
            if self.tracer.enabled:
                self.tracer.add(f"analysis.{name}_ms", ms)
                self.tracer.add(f"analysis.{name}.jobs", jobs.get("jobs", 0))
                self.tracer.add_exec(jobs)
        return times

    def final_check(self) -> None:
        """Every pass checks its own results; nothing is left for the
        end of the run."""
