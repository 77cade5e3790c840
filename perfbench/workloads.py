"""The perfbench workloads.

Each workload owns its inputs under a work directory and exposes:

* ``materialize(spark, seed)`` — build the inputs from the seed (set-up);
* ``round(spark, i, tr)`` — one closed-loop round of calls into the program,
  returning ``(kind, seconds)`` samples; layer calls are wrapped in spans
  named ``<module>.<layer>`` (no-ops when tracing is off);
* ``check(spark)`` — untimed oracle gates over every round's outputs,
  returning ``(attempted, failed, errors)``;
* ``items`` — the work the latest round completed (rows or points);
* ``stored_bytes_per_point(spark)`` — a storage cost of the outputs.

``layer_probe`` is the traced run's layer decomposition: it times and forces
each layer's public functions on the workload's own data, upstream
persisted, skipping any layer the workload's rounds already spanned.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import harness, oracles

KEYS = ["source"]
TS, VAL = "ingest_ts", "n_tok"
EPOCH = dt.datetime(2024, 1, 1)  # mtsad_spark.fixtures.EPOCH
EPOCH_S = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds())


def force(df) -> None:
    """Run ``df`` to completion without collecting or storing it."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def read_pdf(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """A Spark parquet output as pandas, hive partition columns as strings and
    ``bucket_ts`` as whole epoch seconds ``ts_s``."""
    # "_day=..." partition dirs start with "_", which pyarrow skips by default
    ds = pads.dataset(path, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])
    df = ds.to_table(columns=columns).to_pandas()
    for c in KEYS:
        if c in df.columns:
            df[c] = df[c].astype(str)
    if "bucket_ts" in df.columns:
        df["ts_s"] = oracles.epoch_s(df["bucket_ts"])
    return df


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Workload:
    name = ""
    items = 0
    # layer probe settings: which tier of the workload's data the scoring
    # layers run on, and their window length
    probe_tier = "1m"
    probe_w = 30
    # wall time of a warm round on a 4-CPU host; sets how many rounds fill
    # the measuring time
    ROUND_S = 6.0

    def __init__(self, work: str):
        self.work = work
        self.input = os.path.join(work, "input")
        self.out = os.path.join(work, "out")

    def raw_paths(self) -> list[str]:
        return [os.path.join(self.input, "sequences")]

    def measured_rounds(self, seconds: float, trace: bool) -> int:
        """Warm rounds a run measures: as many nominal rounds as fit in
        ``seconds``, at least one; a traced run measures three (untraced,
        traced, untraced)."""
        return 3 if trace else max(1, round(seconds / self.ROUND_S))

    def _reset(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)


# ---------------------------------------------------------------- tier_build
class TierBuild(Workload):
    """The north-star job: ``RollupPipeline.run(resume=False)`` over a
    generated sequences table (7 days of 1m buckets, 5 Zipf-skewed sources)."""

    name = "tier_build"
    N_ROWS = 500_000
    N_MINUTES = 10_080
    items = N_ROWS
    probe_tier = "1h"
    ROUND_S = 8.0

    def materialize(self, spark, seed: int) -> None:
        from mtsad_spark.fixtures import sequences
        from mtsad_spark.sources.tables import TableProvider

        self._reset(self.input)
        df = sequences(spark, self.N_ROWS, self.N_MINUTES, seed=seed, with_tokens=False)
        TableProvider(spark, self.input).write(df.drop("tokens"), "sequences")
        self._reset(self.out)
        self.rounds: list[str] = []

    def round(self, spark, i: int, tr) -> list[tuple[str, float]]:
        from mtsad_spark.plans.pipeline import RollupPipeline
        from mtsad_spark.sources.tables import TableProvider

        base = os.path.join(self.out, f"run{i}")
        t0 = time.perf_counter()
        with tr.span("pipeline.run") as sp:
            seq = TableProvider(spark, self.input).read("sequences")
            out = RollupPipeline(spark, base).run(seq, resume=False)
        wall = time.perf_counter() - t0
        if tr.enabled:
            sp["stages"] = {r.stage: r.wall_s for r in out["metrics"].collect()}
            sp["bytes_written"] = harness.du_bytes(base)
        self.rounds.append(base)
        return [("run", wall)]

    def check(self, spark) -> tuple[int, int, list[str]]:
        from mtsad_spark.functions.gorilla import decompress

        want = {t: oracles.with_moments(oracles.duck_partials(self.raw_paths(), t)) for t in ("1m", "1h", "1d")}
        for w in want.values():
            w.rename(columns={"bucket_s": "ts_s"}, inplace=True)
        failed, errors = 0, []
        for base in self.rounds:
            errs = []
            for t, w in want.items():
                p = read_pdf(os.path.join(base, f"partials_{t}"))
                errs += [f"partials_{t} {e}" for e in oracles.compare_frames(
                    p, w, ["source", "ts_s"], exact=["cnt", "s1", "s2", "vmin", "vmax"])]
                r = read_pdf(os.path.join(base, f"rollup_{t}")).rename(columns={"sum_v": "s1"})
                errs += [f"rollup_{t} {e}" for e in oracles.compare_frames(
                    r, w, ["source", "ts_s"], exact=["cnt", "s1", "vmin", "vmax"], bitwise=["mean", "std"])]
            pk = read_pdf(os.path.join(base, "packed_1m"))
            dec = []
            for src, blob in zip(pk["source"], pk["block"]):
                ts, vals = decompress(bytes(blob))
                dec.append(pd.DataFrame({"source": src, "ts_s": ts, "mean": vals}))
            errs += [f"packed_1m {e}" for e in oracles.compare_frames(
                pd.concat(dec, ignore_index=True), want["1m"], ["source", "ts_s"], bitwise=["mean"])]
            if errs:
                failed += 1
                errors += [f"{os.path.basename(base)}: {e}" for e in errs]
        return len(self.rounds), failed, errors

    def stored_bytes_per_point(self, spark) -> float:
        base = self.rounds[-1]
        return harness.du_bytes(base) / parquet_rows(os.path.join(base, "rollup_1m"))


# ------------------------------------------------------- long_series_scoring
class LongSeriesScoring(Workload):
    """Long, gappy per-source 1m series through the window, Arrow and Gorilla
    layers: LOCF and linear gap-fill, a long-window z-score, rolling
    correlation and sigma rule, chunked EWMA, and a Gorilla pack/unpack."""

    name = "long_series_scoring"
    N_MINUTES = 1_440
    ROWS_PER_MINUTE = 20
    W = 240
    K_Z, K_SIGMA, ALPHA = 3.0, 2.0, 0.2
    probe_tier = "1m"
    probe_w = W
    ROUND_S = 7.0

    def materialize(self, spark, seed: int) -> None:
        from mtsad_spark.fixtures import sequences
        from mtsad_spark.operators.rollup import finalize, rollup_partials
        from mtsad_spark.sources.tables import TableProvider

        self._reset(self.input)
        tables = TableProvider(spark, self.input)
        raw = sequences(spark, self.N_MINUTES * self.ROWS_PER_MINUTE, self.N_MINUTES, seed=seed, with_tokens=False)
        tables.write(raw.drop("tokens"), "sequences")
        tier = finalize(rollup_partials(tables.read("sequences"), TS, VAL, KEYS, "1m"), KEYS, "1m")
        tables.write(tier, "tier_1m")
        self.tier_pdf = read_pdf(tables.path("tier_1m"))
        self.items = len(oracles.spine(self.tier_pdf))
        self._reset(self.out)
        self.rounds = []

    def round(self, spark, i: int, tr) -> list[tuple[str, float]]:
        from mtsad_spark.functions.gorilla import pack_rollup, unpack_rollup
        from mtsad_spark.operators.gapfill import gap_fill
        from mtsad_spark.operators.scoring import ewma_residual_chunked, sliding_zscore
        from mtsad_spark.operators.stats import rolling_corr, sigma_rule_rolling

        base = os.path.join(self.out, f"round{i}")
        path = lambda n: os.path.join(base, n)  # noqa: E731

        def write(layer: str, name: str, df) -> None:
            with tr.span(layer):
                df.write.mode("overwrite").parquet(path(name))

        t0 = time.perf_counter()
        m1 = spark.read.parquet(os.path.join(self.input, "tier_1m"))
        write("gapfill.locf", "locf", gap_fill(m1, KEYS, "1m", ["mean"], method="locf"))
        write("gapfill.linear", "linear", gap_fill(m1, KEYS, "1m", ["mean"], method="linear"))
        filled = spark.read.parquet(path("locf"))
        write("scoring.zscore", "zscore", sliding_zscore(filled, KEYS, "bucket_ts", "mean", w=self.W, k=self.K_Z))
        write("stats.rolling_corr", "corr", rolling_corr(filled, KEYS, "bucket_ts", "cnt", "sum_v", self.W))
        write("stats.sigma_rolling", "sigma", sigma_rule_rolling(filled, KEYS, "bucket_ts", "mean", self.W, k=self.K_SIGMA))
        write("scoring.ewma", "ewma", ewma_residual_chunked(
            m1.select(*KEYS, "bucket_ts", "mean"), KEYS, "bucket_ts", "mean", alpha=self.ALPHA))
        write("gorilla.pack", "packed", pack_rollup(m1, KEYS, "mean", chunk="day"))
        write("gorilla.unpack", "unpacked", unpack_rollup(spark.read.parquet(path("packed")), KEYS))
        wall = time.perf_counter() - t0
        self.rounds.append(base)
        return [("round", wall)]

    def _expected(self) -> dict[str, pd.DataFrame]:
        sp = oracles.spine(self.tier_pdf)
        filled = oracles.locf(sp)
        return {
            "locf": filled,
            "linear": oracles.linear(sp),
            "zscore": oracles.zscore(filled, self.W, self.K_Z),
            "corr": oracles.rolling_corr(filled, self.W),
            "sigma": oracles.sigma_rolling(filled, self.W, self.K_SIGMA),
            "ewma": oracles.ewma(self.tier_pdf, self.ALPHA),
        }

    # columns compared per output: exact, bitwise, or within oracles.FLOAT_RTOL
    CHECKS = {
        "locf": {"exact": ["cnt", "obs"], "bitwise": ["mean"]},
        "linear": {"exact": ["cnt", "obs"], "approx": ["mean"]},
        "zscore": {"approx": ["roll_mean", "roll_std", "score"]},
        "corr": {"approx": ["corr"]},
        "sigma": {"approx": ["ma", "resid", "sigma"]},
        "ewma": {"approx": ["ewma_level", "resid", "score"]},
    }
    # outputs with sigma-rule labels: (score column of the oracle, threshold)
    LABELS = {"zscore": ("score", K_Z), "sigma": ("_sscore", K_SIGMA)}

    def check(self, spark) -> tuple[int, int, list[str]]:
        want = self._expected()
        key = ["source", "ts_s"]
        failed, errors = 0, []
        for base in self.rounds:
            got = {n: read_pdf(os.path.join(base, n)) for n in [*want, "unpacked"]}
            for n in ("locf", "linear"):
                got[n]["obs"] = ~got[n]["gap_filled"]
            got["unpacked"] = got["unpacked"].rename(columns={"value": "mean"})
            errs = [
                f"{n} {e}" for n, kw in self.CHECKS.items() for e in oracles.compare_frames(got[n], want[n], key, **kw)
            ]
            errs += [f"unpacked {e}" for e in oracles.compare_frames(got["unpacked"], self.tier_pdf, key, bitwise=["mean"])]
            for n, (score, k) in self.LABELS.items():
                g, w = (d.sort_values(key).reset_index(drop=True) for d in (got[n], want[n]))
                if len(g) == len(w) and not oracles.labels_match(w[score].to_numpy(), g["label"].to_numpy(), w["label"].to_numpy(), k):
                    errs.append(f"{n}: labels differ")
            if errs:
                failed += 1
                errors += [f"{os.path.basename(base)}: {e}" for e in errs]
        return len(self.rounds), failed, errors

    def stored_bytes_per_point(self, spark) -> float:
        pk = read_pdf(os.path.join(self.rounds[-1], "packed"), columns=["n_points", "block"])
        return float(pk["block"].map(len).sum() / pk["n_points"].sum())


# ------------------------------------------------------------ ingest_refresh
class IngestRefresh(Workload):
    """Day batches merged into stored 1m/1h/1d tier tables by
    ``ContinuousAggregate.refresh``, interleaved with range queries on
    non-aligned endpoints and a periodic ``compact``. A seeded share of each
    day's rows arrives late, onto stored and onto compacted days."""

    name = "ingest_refresh"
    N_DAYS = 12
    ROWS_PER_DAY = 20_000
    LATE_PCT = 20
    LATE_LAG = (1, 2, 4)  # rounds a day's late rows trail its main batch
    RANGES_PER_ROUND = 2
    probe_tier = "1h"
    probe_w = 24

    def materialize(self, spark, seed: int) -> None:
        from pyspark.sql import functions as F

        from mtsad_spark.fixtures import sequences

        self._reset(self.input)
        raw = sequences(spark, self.N_DAYS * self.ROWS_PER_DAY, self.N_DAYS * 1440, seed=seed, with_tokens=False)
        day = F.floor((F.unix_timestamp(TS) - F.lit(EPOCH_S)) / 86400).cast("int")
        late = (F.abs(F.xxhash64("doc_id", F.lit(seed))) % 100 < self.LATE_PCT).cast("int")
        (
            raw.drop("tokens")
            .withColumn("_day", day)
            .withColumn("_late", late)
            .filter(F.col("_day") < self.N_DAYS)
            .repartition("_day", "_late")
            .write.mode("overwrite")
            .partitionBy("_day", "_late")
            .parquet(os.path.join(self.input, "batches"))
        )
        rng = np.random.default_rng(seed)
        order: list[tuple[float, int, int]] = []
        for d in range(self.N_DAYS):
            order.append((d, d, 0))
            order.append((d + float(rng.choice(self.LATE_LAG)) + 0.5, d, 1))
        self.schedule = [(d, late) for _, d, late in sorted(order)]
        self.rng = rng
        self.ca_dir = os.path.join(self.work, "ca")
        self._reset(self.ca_dir)
        self.ingested: list[str] = []
        self.answers: list[tuple[int, int, list[str], pd.DataFrame]] = []
        self.ops = 0

    def raw_paths(self) -> list[str]:
        return [os.path.join(self.input, "batches")]

    def _batch_path(self, day: int, late: int) -> str:
        return os.path.join(self.input, "batches", f"_day={day}", f"_late={late}")

    def _ca(self, spark):
        from mtsad_spark.plans.continuous import ContinuousAggregate

        return ContinuousAggregate(spark, self.ca_dir, KEYS, TS, VAL)

    def round(self, spark, i: int, tr) -> list[tuple[str, float]]:
        if i >= len(self.schedule):
            return []
        ca = self._ca(spark)
        day, late = self.schedule[i]
        path = self._batch_path(day, late)
        samples = []
        with tr.span("continuous.refresh") as sp:
            wall, affected = timed(lambda: ca.refresh(spark.read.parquet(path)))
        sp["affected_days"] = sum(affected.values())
        self.ingested.append(path)
        self.items = parquet_rows(path)
        samples.append(("refresh", wall))
        hi_day = max(int(p.split("_day=")[1].split(os.sep)[0]) for p in self.ingested)
        span_min = (hi_day + 1) * 1440
        for _ in range(self.RANGES_PER_ROUND):
            a = int(self.rng.integers(0, span_min - 90))
            b = int(self.rng.integers(a + 90, span_min + 1))
            t0, t1 = EPOCH + dt.timedelta(minutes=a), EPOCH + dt.timedelta(minutes=b)
            with tr.span("continuous.range"):
                wall, rows = timed(lambda: ca.range_query(t0, t1).collect())
            samples.append(("range", wall))
            got = pd.DataFrame([r.asDict() for r in rows])
            self.answers.append((EPOCH_S + a * 60, EPOCH_S + b * 60, list(self.ingested), got))
        if hi_day >= 1:
            # every day before the newest goes cold, so late rows land on
            # compacted days as well as on stored ones
            cut = (EPOCH + dt.timedelta(days=hi_day)).date()
            with tr.span("continuous.compact"):
                wall, _ = timed(lambda: [ca.compact(t, cut) for t in ("1m", "1h")])
            samples.append(("compact", wall))
        self.ops += len(samples)
        return samples

    def check(self, spark) -> tuple[int, int, list[str]]:
        failed, errors = 0, []
        for t0, t1, paths, got in self.answers:
            want = oracles.duck_range(paths, t0, t1)
            errs = oracles.compare_frames(
                got, want, ["source"], exact=["cnt", "sum_v", "vmin", "vmax"], bitwise=["mean", "std"])
            if errs:
                failed += 1
                errors += [f"range [{t0}, {t1}) after {len(paths)} batches: {e}" for e in errs]
        return self.ops, failed, errors

    def stored_bytes_per_point(self, spark) -> float:
        ca = self._ca(spark)
        nbytes = points = 0
        for tier in ("1m", "1h", "1d"):
            for path, packed in ((ca._path(tier), False), (ca._packed_path(tier), True)):
                if parquet_rows(path) == 0:
                    continue
                nbytes += harness.du_bytes(path)
                if packed:
                    points += int(read_pdf(path, columns=["n_points"])["n_points"].sum())
                else:
                    points += parquet_rows(path)
        return nbytes / points


WORKLOADS = {w.name: w for w in (TierBuild, LongSeriesScoring, IngestRefresh)}


# ------------------------------------------------------------ layer probe
def layer_probe(spark, wl: Workload, tr) -> dict:
    """Time and force every layer's public functions on ``wl``'s data, with
    upstream persisted; layers the workload's rounds already spanned are not
    re-run. Returns data properties the spans cannot carry."""
    from pyspark.sql import functions as F

    from mtsad_spark.functions.gorilla import compress, decompress, pack_rollup, unpack_rollup
    from mtsad_spark.operators.gapfill import gap_fill
    from mtsad_spark.operators.rollup import finalize, reaggregate, rollup_partials
    from mtsad_spark.operators.scoring import ewma_halo_rows, ewma_residual_chunked, sliding_zscore
    from mtsad_spark.operators.stats import rolling_corr, sigma_rule_rolling
    from mtsad_spark.plans.continuous import ContinuousAggregate
    from mtsad_spark.plans.pipeline import RollupPipeline

    have = {s["name"] for s in tr.spans}
    props: dict = {}
    held = []

    def persist(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    def layer(name: str, fn) -> None:
        if name not in have:
            with tr.span(name) as sp:
                out = fn()
            if isinstance(out, dict):
                sp.update(out)

    with tr.span("probe"):
        raw = spark.read.parquet(*wl.raw_paths())
        layer("sources.scan", lambda: force(raw))
        p1m = rollup_partials(raw, TS, VAL, KEYS, "1m")
        layer("rollup.partials_1m", lambda: force(p1m))
        p = {"1m": persist(p1m)}
        p["1h"] = reaggregate(p["1m"], KEYS, "1h")
        p["1d"] = reaggregate(p["1h"], KEYS, "1d")
        layer("rollup.reaggregate", lambda: [force(p["1h"]), force(p["1d"])])
        p["1h"], p["1d"] = persist(p["1h"]), persist(p["1d"])
        layer("rollup.finalize", lambda: [force(finalize(p[t], KEYS, t)) for t in p])

        tier_name, w = wl.probe_tier, wl.probe_w
        tier = persist(finalize(p[tier_name], KEYS, tier_name))
        layer("gapfill.locf", lambda: force(gap_fill(tier, KEYS, tier_name, ["mean"], method="locf")))
        layer("gapfill.linear", lambda: force(gap_fill(tier, KEYS, tier_name, ["mean"], method="linear")))
        filled = persist(gap_fill(tier, KEYS, tier_name, ["mean"], method="locf"))
        n_spine = filled.count()
        props["gapfill.spine_rows"] = n_spine
        props["gapfill.filled_share"] = filled.filter("gap_filled").count() / n_spine
        layer("scoring.zscore", lambda: force(sliding_zscore(filled, KEYS, "bucket_ts", "mean", w=w)))
        layer("scoring.ewma", lambda: force(ewma_residual_chunked(
            tier.select(*KEYS, "bucket_ts", "mean"), KEYS, "bucket_ts", "mean", alpha=0.2)))
        # halo rows replicated into every slice after a key's first, over the
        # rows actually scored (ewma_residual_chunked's default slice size)
        halo, rps = ewma_halo_rows(0.2), 200_000
        per_key = [r[0] for r in tier.groupBy(*KEYS).count().select("count").collect()]
        props["scoring.ewma_halo_share"] = sum(
            min(halo, s * rps) for n in per_key for s in range(1, -(-n // rps))
        ) / sum(per_key)
        layer("stats.rolling_corr", lambda: force(rolling_corr(filled, KEYS, "bucket_ts", "cnt", "sum_v", w)))
        layer("stats.sigma_rolling", lambda: force(sigma_rule_rolling(filled, KEYS, "bucket_ts", "mean", w)))
        packed = pack_rollup(tier, KEYS, "mean", chunk="day")
        layer("gorilla.pack", lambda: force(packed))
        packed = persist(packed)
        layer("gorilla.unpack", lambda: force(unpack_rollup(packed, KEYS)))

        # the codec itself, driver-side, on the same tier arrays
        pts = tier.select(*KEYS, "bucket_ts", "mean").toPandas()
        pts["ts_s"] = oracles.epoch_s(pts["bucket_ts"])
        arrays = [
            (g["ts_s"].to_numpy(np.int64), g["mean"].to_numpy(np.float64))
            for _, g in pts.sort_values("ts_s").groupby([*KEYS, pts["ts_s"] // 86400])
        ]
        with tr.span("gorilla.encode") as sp:
            blobs = [compress(t, v) for t, v in arrays]
        sp["points"] = len(pts)
        with tr.span("gorilla.decode") as sp:
            for b in blobs:
                decompress(b)
        sp["points"] = len(pts)

        base = os.path.join(wl.work, "probe")
        shutil.rmtree(base, ignore_errors=True)

        def pipeline_run():
            out = RollupPipeline(spark, os.path.join(base, "pipe")).run(raw, resume=False)
            return {
                "stages": {r.stage: r.wall_s for r in out["metrics"].collect()},
                "bytes_written": harness.du_bytes(os.path.join(base, "pipe")),
            }

        layer("pipeline.run", pipeline_run)

        if "continuous.refresh" not in have:
            ca = ContinuousAggregate(spark, os.path.join(base, "ca"), KEYS, TS, VAL)
            lo, hi = raw.agg(F.min(TS), F.max(TS)).first()
            mid = lo + (hi - lo) / 2
            ca.refresh(raw.filter(F.col(TS) < mid))
            with tr.span("continuous.refresh") as sp:
                sp["affected_days"] = sum(ca.refresh(raw.filter(F.col(TS) >= mid)).values())
            day0 = dt.datetime.combine(lo.date(), dt.time())
            t0 = day0 + dt.timedelta(minutes=97)
            t1 = dt.datetime.combine(hi.date(), dt.time()) + dt.timedelta(minutes=1013)
            with tr.span("continuous.range"):
                ca.range_query(t0, t1).collect()
            with tr.span("continuous.compact"):
                ca.compact("1m", hi.date() + dt.timedelta(days=1))
        shutil.rmtree(base, ignore_errors=True)
    for df in held:
        df.unpersist()
    return props

