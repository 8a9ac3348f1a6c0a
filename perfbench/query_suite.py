"""query_suite: headline registry queries from ``bench.BENCH_QUERIES``
over the project's reference sf0.01 tables (``perfbench/data/sf0.01``,
read in place, never written), built inside ``stats.fast_sums()`` and
written to the noop sink, one op per query. The seed fixes the order in
which the queries are submitted. Once per run, outside the timed
passes, every query's exact-mode result is compared with its DuckDB
twin through ``tools/check_correctness.compare``.

The suite runs seven of the nineteen bench queries: the cold pass of
all nineteen alone takes about 29 s on 4 cores, more than a run that
must also warm up and time several passes can spend. The seven cover a
TPC-H aggregate (q1), window top-k, time-series resample and as-of
join, the power curve, exact dedup and MinHash LSH near-duplicates.
Not measured: the TPC-H joins (q3, q5) and filter (q6), day resample,
cumulative sum, bin filter, correlation pairs, token counts, vector
search, language id, LM scoring and chunk dedup.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

from perfbench.harness import OpCounter, catalyst_phases

QUERIES = [
    "q1_pricing_summary",
    "top2_orders_per_customer",
    "resample_hour_mean_by_type",
    "asof_hourly_value",
    "iec_power_curve",
    "exact_dedup_docs",
    "minhash_near_dups",
]
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# rows per reference table; set-up refuses tables that differ
ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}


class QuerySuite:
    name = "query_suite"
    warmup_passes = 4

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer):
        from bench import BENCH_QUERIES

        missing = set(QUERIES) - set(BENCH_QUERIES)
        if missing:
            raise ValueError(f"not bench queries: {sorted(missing)}")
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.sf_dir = DATA
        self.queries = QUERIES[:3] if tiny else list(QUERIES)
        random.Random(seed).shuffle(self.queries)
        self.counter = OpCounter()
        self.setup_layers: list[dict] = []

    def setup(self) -> None:
        """Check the reference tables are present and whole."""
        bad = {
            t: pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in ROWS
        }
        bad = {t: n for t, n in bad.items() if n != ROWS[t]}
        if bad:
            raise ValueError(f"reference tables have other row counts: {bad}")

    def run_pass(self) -> dict[str, float]:
        from openoa_spark import registry
        from openoa_spark.functions import stats

        qs = registry.queries()
        tr = self.tracer
        times: dict[str, float] = {}
        for name in self.queries:
            def op():
                with tr.span("registry.build_ms"), stats.fast_sums():
                    df = qs[name](self.spark, self.sf_dir)
                if tr.enabled:
                    for phase, ms in catalyst_phases(df).items():
                        tr.add(f"catalyst.{phase}_ms", ms)
                with tr.job_group(name) as jobs:
                    df.write.format("noop").mode("overwrite").save()
                tr.add_exec(jobs)
                return None, []

            t0 = time.perf_counter()
            self.counter.run(name, op)
            times[name] = (time.perf_counter() - t0) * 1000.0
        return times

    def final_check(self) -> None:
        """Each query's exact-mode rows against its DuckDB twin."""
        from bench import _duck_connection
        from openoa_spark import registry
        from tools.check_correctness import compare

        con = _duck_connection(self.sf_dir)
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duck_tmp')}'")
        qs, oracles = registry.queries(), registry.oracle_sql()
        for name in self.queries:
            def check():
                sdf = qs[name](self.spark, self.sf_dir)
                cols = sdf.columns
                rows = [tuple(r) for r in sdf.collect()]
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                if sorted(cols) != sorted(dcols):
                    return None, [f"columns {cols} vs {dcols}"]
                idx = [dcols.index(c) for c in cols]
                drows = [tuple(r[i] for i in idx) for r in res.fetchall()]
                if not rows:
                    return None, ["empty result"]
                err = compare(rows, drows, cols)
                return None, [err] if err else []

            self.counter.run(f"check:{name}", check)
        con.close()
