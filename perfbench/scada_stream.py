"""scada_stream: seeded 10-minute SCADA telemetry landed as equal
parquet files (one day per file) is drained by
``streaming.ingest.file_stream(max_files_per_trigger=1)`` into
``stream_time_rollup``: every micro-batch lands its raw rows and
refreshes an hourly rollup keyed by ``asset_id`` from the raw table,
which grows each batch. Each pass drains every file into fresh raw,
rollup and checkpoint directories; an op is one micro-batch.

At the end of the run the last pass's rollup is checked against a full
recompute from its raw table, and the raw row count against the input.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import OpCounter, dir_bytes, fresh_dir

FILES = 4
ASSETS = 20
STREAM_DURATIONS = {
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "getBatch": "stream.get_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


def _aggs():
    from pyspark.sql import functions as F

    return {
        "energy_kw": F.sum("power_kw"),
        "wind_mean": F.avg("wind_ms"),
        "n": F.count(F.lit(1)),
    }


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("time", T.TimestampType()),
        T.StructField("asset_id", T.StringType()),
        T.StructField("power_kw", T.DoubleType()),
        T.StructField("wind_ms", T.DoubleType()),
        T.StructField("temp_c", T.DoubleType()),
    ])


def write_telemetry(out_dir: str, seed: int, files: int, assets: int) -> int:
    """One parquet file per day of 10-minute rows for every asset;
    returns the input bytes."""
    rng = np.random.default_rng(seed)
    stamps = 144
    ids = np.array([f"WT{i:03d}" for i in range(assets)])
    total = 0
    for day in range(files):
        t = (np.datetime64("2024-03-01", "us")
             + np.timedelta64(day, "D")
             + np.arange(stamps).astype("timedelta64[m]") * 10)
        ws = np.clip(8.0 + rng.normal(0.0, 2.5, (stamps, assets)), 0.0, 25.0)
        table = pa.table({
            "time": pa.array(np.repeat(t, assets), pa.timestamp("us", tz="UTC")),
            "asset_id": np.tile(ids, stamps),
            "power_kw": np.round(2000.0 / (1.0 + np.exp(8.0 - ws)), 3).ravel(),
            "wind_ms": np.round(ws, 3).ravel(),
            "temp_c": np.round(rng.normal(12.0, 4.0, stamps * assets), 2),
        })
        path = os.path.join(out_dir, f"day{day:03d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


class ScadaStream:
    name = "scada_stream"
    warmup_passes = 1

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.files = 2 if tiny else FILES
        self.assets = 4 if tiny else ASSETS
        self.counter = OpCounter()
        self.setup_layers: list[dict] = []
        self._n_setup = 0
        self._n_pass = 0

    def setup(self) -> None:
        self._n_setup += 1
        t0 = time.perf_counter()
        d = fresh_dir(os.path.join(self.work, f"in{self._n_setup}"))
        self.input_bytes = write_telemetry(d, self.seed, self.files, self.assets)
        self.setup_layers.append(
            {"sources.stage_ms": (time.perf_counter() - t0) * 1000.0}
        )
        self.in_dir = d

    def run_pass(self) -> dict[str, float]:
        from openoa_spark.streaming import ingest

        self._n_pass += 1
        d = fresh_dir(os.path.join(self.work, f"pass{self._n_pass}"))
        self.raw, self.roll = os.path.join(d, "raw"), os.path.join(d, "rollup")
        ck = os.path.join(d, "checkpoint")
        # keep only the pass the end-of-run check reads
        shutil.rmtree(os.path.join(self.work, f"pass{self._n_pass - 1}"),
                      ignore_errors=True)

        def op():
            stream = ingest.file_stream(
                self.spark, self.in_dir, _schema(), max_files_per_trigger=1
            )
            q = ingest.stream_time_rollup(
                stream, self.raw, self.roll, "time", "hour", _aggs(), ck,
                keys=["asset_id"],
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            n = sum(1 for p in q.recentProgress if p.numInputRows > 0)
            return q, [] if n == self.files else [
                f"{n} data batches for {self.files} files"]

        failed0 = self.counter.failed
        q = self.counter.run("drain", op)
        # one op per micro-batch: a drain lands every batch or fails them all
        self.counter.attempted += self.files - 1
        if self.counter.failed > failed0:
            self.counter.failed += self.files - 1
        progress = list(q.recentProgress) if q is not None else []
        times = {
            f"batch{p.batchId:03d}": float(p.durationMs.get("triggerExecution", 0))
            for p in progress if p.numInputRows > 0
        }
        if self.tracer.enabled and q is not None:
            layers = {v: 0.0 for v in STREAM_DURATIONS.values()}
            for p in progress:
                for k, name in STREAM_DURATIONS.items():
                    layers[name] += float(p.durationMs.get(k, 0))
            raw_b, raw_f = dir_bytes(self.raw, ".parquet")
            roll_b, roll_f = dir_bytes(self.roll, ".parquet")
            layers.update({
                "sinks.raw_bytes": raw_b,
                "sinks.rollup_bytes": roll_b,
                "sinks.checkpoint_bytes": dir_bytes(ck)[0],
                "sinks.files": raw_f + roll_f,
                "sinks.write_amp": (raw_b + roll_b) / self.input_bytes,
            })
            for k, v in layers.items():
                self.tracer.add(k, v)
            self.tracer.add_exec(self.tracer.group_counts(str(q.runId)))
        return times

    def final_check(self) -> None:
        """Rollup == full recompute from raw; raw rows == input rows."""
        from pyspark.sql import functions as F

        def check():
            raw = self.spark.read.parquet(self.raw).drop("_batch_id")
            n_in = self.spark.read.parquet(self.in_dir).count()
            bad = []
            if raw.count() != n_in:
                bad.append(f"raw rows {raw.count()} vs input {n_in}")

            def rows(df):
                return sorted(
                    (str(r["_bucket"]), r["asset_id"], round(r["energy_kw"], 6),
                     round(r["wind_mean"], 9), r["n"])
                    for r in df.collect()
                )

            want = rows(raw.groupBy(
                F.date_trunc("hour", "time").alias("_bucket"), "asset_id"
            ).agg(*[c.alias(n) for n, c in _aggs().items()]))
            got = rows(self.spark.read.parquet(self.roll))
            if got != want:
                bad.append(f"rollup differs from recompute ({len(got)} vs {len(want)} rows)")
            return None, bad

        self.counter.run("check:rollup", check)
