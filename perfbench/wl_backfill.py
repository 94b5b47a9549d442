"""``backfill``: the paper's batch mode, then its live mode on the same lake.

``N_SYMBOLS`` symbols x 5 intervals (15m/1h/4h/6h/1d) x 5 venues over
``DAYS`` days, fetched through ``HttpExchangeAdapter`` over the offline
venue transport (real wire dialects, two injected venue errors).  The
reference's default grid has 6 symbols; 1 keeps a run near a minute,
and every interval and venue dialect is still covered: the engine's cost
here is per call, per file and per task far more than per candle.  One
round is two ``pipelines.backfill`` calls on a fresh lake, each with its
progress table collected, and then one simulated live hour:

- cold: an empty lake, the whole range;
- no-op: the same range again over the up-to-date lake;
- live: ``wl_live.run_live`` goes live on the backfilled lake, as the
  reference's collector does once it has caught up.

The reference workload also runs a +1-day top-up between the cold call
and the no-op; it is left out to fit the run budget (its fixed cost is
the no-op's whole-lake scans, and its merge into an existing lake is
what every live cycle does).

The seed picks the start day and the symbol name; candle counts are
fixed by the grid, so runs on different seeds are comparable.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sources.manifest import DAY_MS
from crypto_data_ingestion_module_spark.sources.venues import CANDLES_PER_DAY

import venue_transport as VT
import wl_live
from harness import Checks, dir_bytes, median

DAYS = 1
N_SYMBOLS = 1
INTERVALS = tuple(CANDLES_PER_DAY)
SYMBOL_POOL = (
    "BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT", "ADA-USDT", "DOGE-USDT",
    "DOT-USDT", "LTC-USDT", "AVAX-USDT", "LINK-USDT", "ATOM-USDT", "BCH-USDT",
)
FIRST_DAY_MS = 1_640_995_200_000  # 2022-01-01 UTC
PHASES = ("cold", "noop")
#: Nominal seconds of one round: a backfill iteration (cold and no-op
#: calls) plus one simulated live hour.  A run makes
#: ``max(1, round(--seconds / ROUND_SECONDS))`` rounds, so a given
#: ``--seconds`` always measures the same work.
ROUND_SECONDS = 40


class Grid:
    """The workload's inputs and the candle arithmetic they imply."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.symbols = sorted(rng.sample(SYMBOL_POOL, N_SYMBOLS))
        self.start_ms = FIRST_DAY_MS + rng.randrange(730) * DAY_MS
        self.end_ms = self.start_ms + DAYS * DAY_MS
        failing = {(ex, self.symbols[i], ivl) for ex, i, ivl, _ in VT.INJECTED_ERRORS}
        self.failing = failing
        self.series = [
            (sym, ivl, ex, gran * 1000)
            for ex, ivl, _native, gran, _lim, _pace in VT.VENUE_INTERVALS
            if ivl in INTERVALS
            for sym in self.symbols
            if (ex, sym, ivl) not in failing
        ]

    def expected_progress(self, end_ms: int) -> set[tuple]:
        days = (end_ms - self.start_ms) // DAY_MS
        return {
            (sym, ivl, ex, days * CANDLES_PER_DAY[ivl], end_ms - ivl_ms)
            for sym, ivl, ex, ivl_ms in self.series
        }

    def candles(self, end_ms: int) -> int:
        return sum(row[3] for row in self.expected_progress(end_ms))

    def value_sums(self, end_ms: int) -> dict[str, float]:
        """Per exchange: sum of open + 2 high + 3 low + 4 close + 5 volume."""
        out: dict[str, float] = {}
        for sym, _ivl, ex, ivl_ms in self.series:
            for ts in range(self.start_ms, end_ms, ivl_ms):
                o, h, lo, c, v = VT.candle_values(ex, sym, ts, ivl_ms)
                out[ex] = out.get(ex, 0.0) + o + 2 * h + 3 * lo + 4 * c + 5 * v
        return out


def _ms(ts: dt.datetime) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _progress_rows(rows) -> set[tuple]:
    return {
        (r.symbol, r.interval, r.exchange, int(r.n_candles), _ms(r.last_collected_ts))
        for r in rows
    }


def _progress(lake_df):
    """The progress aggregate ``pipelines.backfill`` returns."""
    return lake_df.groupBy("symbol", "interval", "exchange").agg(
        F.max("timestamp").alias("last_collected_ts"),
        F.count(F.lit(1)).alias("n_candles"),
    )


def _inputs(ctx, symbols, intervals, start_ms: int, end_ms: int, errors=VT.INJECTED_ERRORS):
    from crypto_data_ingestion_module_spark.sources.fetch import HttpExchangeAdapter

    spark = ctx.spark
    transport = VT.VenueTransport(symbols, list(intervals), start_ms, end_ms, errors)
    VT.ship(spark)
    symbols_df = spark.createDataFrame(
        [(s, start_ms) for s in symbols], "symbol string, start_ms long"
    )
    intervals_df = spark.createDataFrame(
        [(i, CANDLES_PER_DAY[i]) for i in intervals],
        "interval string, candles_per_day long",
    )
    return symbols_df, intervals_df, HttpExchangeAdapter(transport)


def _grid_inputs(ctx, grid: Grid):
    return _inputs(ctx, grid.symbols, INTERVALS, grid.start_ms, grid.end_ms)


def _call_backfill(ctx, inputs, lake: str, end_ms: int):
    from crypto_data_ingestion_module_spark import pipelines
    from crypto_data_ingestion_module_spark.sources.fetch import normalize_real_pages

    symbols_df, intervals_df, adapter = inputs
    progress, quarantine = pipelines.backfill(
        ctx.spark, symbols_df, intervals_df, end_ms, adapter, lake,
        normalizer=normalize_real_pages,
    )
    return progress.collect(), quarantine


def _replay_phase(ctx, inputs, lake: str, end_ms: int, phase: str):
    """``pipelines.backfill`` step by step, one span per layer call."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        current_version,
        read_snapshot,
        snapshot_files,
        snapshot_upsert,
    )
    from crypto_data_ingestion_module_spark.sources.fetch import (
        fetch_pages,
        normalize_real_pages,
        quarantined,
    )
    from crypto_data_ingestion_module_spark.sources.manifest import (
        backfill_manifest,
        incremental_manifest,
    )

    spark, tr = ctx.spark, ctx.tracer
    symbols_df, intervals_df, adapter = inputs
    with tr.span(phase, "pipelines") as root:
        v0 = current_version(spark, lake)
        before = set(snapshot_files(spark, lake)) if v0 is not None else set()
        with tr.span("manifest", "sources.manifest") as c:
            manifest = backfill_manifest(spark, symbols_df, intervals_df, end_ms).cache()
            c["rows"] = pages = manifest.count()
        if v0 is not None:
            with tr.span("incremental_manifest", "sources.manifest") as c:
                clamped = incremental_manifest(
                    manifest, read_snapshot(spark, lake)
                ).cache()
                c["rows"] = pages = clamped.count()
            manifest.unpersist()
            manifest = clamped
        with tr.span("fetch", "sources.fetch") as c:
            raw = fetch_pages(spark, manifest, adapter).cache()
            candles = normalize_real_pages(raw).drop("_ingest_seq").cache()
            c["pages"] = pages
            c["candles"] = candles.count()
            c["quarantined"] = quarantined(raw).count()
        with tr.span("upsert", "sinks.snapshot.write") as c:
            snapshot_upsert(spark, candles, lake)
        after = snapshot_files(spark, lake)
        new = [f for f in after if f not in before]
        c["files_written"] = len(new)
        c["bytes_written"] = dir_bytes([os.path.join(lake, f) for f in new])
        with tr.span("progress", "sinks.snapshot.read") as c:
            rows = _progress(read_snapshot(spark, lake)).collect()
        root["versions"] = current_version(spark, lake) - (v0 or 0)
        for df in (manifest, raw, candles):
            df.unpersist()
    return rows


def verify(spark, grid: Grid, phases: dict, lake: str, check: Checks) -> None:
    """Check one iteration's outputs against the grid arithmetic."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import read_snapshot

    want = grid.expected_progress(grid.end_ms)
    for phase, (rows, _quarantine) in phases.items():
        wrong = {row[:3] for row in _progress_rows(rows) ^ want}
        check(not wrong, f"{phase}: {len(wrong)} series differ from the grid")
    quarantine = {
        (r.exchange, r.symbol, r.interval)
        for r in phases["cold"][1].select("exchange", "symbol", "interval").collect()
    }
    check(quarantine == grid.failing, f"quarantine {sorted(quarantine)} is not "
                                      f"the injected {sorted(grid.failing)}")
    sums = {
        r.exchange: r.s
        for r in read_snapshot(spark, lake)
        .groupBy("exchange")
        .agg(F.sum(F.col("open") + 2 * F.col("high") + 3 * F.col("low")
                   + 4 * F.col("close") + 5 * F.col("volume")).alias("s"))
        .collect()
    }
    want_sums = grid.value_sums(grid.end_ms)
    check(
        sums.keys() == want_sums.keys()
        and all(abs(sums[k] - want_sums[k]) <= 1e-9 * abs(want_sums[k]) for k in sums),
        "candle values differ from the venue payloads",
    )


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    check = Checks()
    t0 = time.perf_counter()
    grid = Grid(ctx.seed)
    # warm-up: one cold backfill of a single daily series per venue, so the
    # timed calls do not pay Python-worker start and first-plan compilation
    warm = _inputs(ctx, grid.symbols[:1], ("1d",), grid.start_ms,
                   grid.end_ms, errors=())
    _call_backfill(ctx, warm, os.path.join(ctx.work, "lake-warm-up"), grid.end_ms)
    inputs = _grid_inputs(ctx, grid)
    setup = time.perf_counter() - t0

    def fresh_lake(i: int) -> str:
        lake = os.path.join(ctx.work, f"lake-{i}")
        shutil.rmtree(lake, ignore_errors=True)
        return lake

    rounds = max(1, round(ctx.seconds / ROUND_SECONDS))
    walls: dict[str, list[float]] = {p: [] for p in PHASES}
    for i in range(rounds):
        lake = fresh_lake(i)
        phases = {}
        for phase in PHASES:
            t = time.perf_counter()
            phases[phase] = _call_backfill(ctx, inputs, lake, grid.end_ms)
            walls[phase].append(time.perf_counter() - t)

    # correctness, outside the timed section: the last iteration's outputs
    verify(spark, grid, phases, lake, check)
    cold_candles = grid.candles(grid.end_ms)
    cold_s = median(walls["cold"])
    total = [a + b for a, b in zip(walls["cold"], walls["noop"])]
    detail = {
        "backfill.candles_per_s": (cold_candles / cold_s, "candles/s"),
        "backfill.noop_s": (median(walls["noop"]), "s"),
    }
    layer: dict[str, float] = {}
    if tracer.enabled:
        lake = fresh_lake(rounds)
        t = time.perf_counter()
        for phase in PHASES:
            _replay_phase(ctx, inputs, lake, grid.end_ms, phase)
        traced_total = time.perf_counter() - t
        untraced_total = sum(median(walls[p]) for p in PHASES)
        cold_layers = sum(
            s.seconds for s in tracer.spans
            if s.parent is not None and tracer.spans[s.parent].name == "cold"
        )
        layer.update({
            "manifest.s": tracer.total("manifest"),
            "manifest.tasks": tracer.total("manifest", "tasks"),
            "manifest.rows": tracer.total("manifest", "rows"),
            "incremental_manifest.s": tracer.total("incremental_manifest"),
            "incremental_manifest.tasks": tracer.total("incremental_manifest", "tasks"),
            "fetch.s": tracer.total("fetch"),
            "fetch.tasks": tracer.total("fetch", "tasks"),
            "fetch.pages": tracer.total("fetch", "pages"),
            "fetch.candles": tracer.total("fetch", "candles"),
            "fetch.quarantined": tracer.total("fetch", "quarantined"),
            "upsert.s": tracer.total("upsert"),
            "upsert.jobs": tracer.total("upsert", "jobs"),
            "upsert.tasks": tracer.total("upsert", "tasks"),
            "upsert.files_written": tracer.total("upsert", "files_written"),
            "upsert.bytes_written": tracer.total("upsert", "bytes_written"),
            "progress.s": tracer.total("progress"),
            "progress.tasks": tracer.total("progress", "tasks"),
            "pipelines.backfill_s": untraced_total,
            "trace.untraced_cold_s": cold_s,
            "trace.layers_cold_s": cold_layers,
            "trace.overhead_s": traced_total - untraced_total,
        })
        for phase in PHASES:
            layer[f"commit.versions_{phase}"] = tracer.total(phase, "versions")

    # go live on the backfilled lake (traced: the replayed one)
    live = wl_live.run_live(ctx, lake, grid.symbols, grid.end_ms, rounds, check)
    detail.update(live["detail"])
    layer.update(live["layer"])
    # both backfill calls together: the cold call alone
    # (backfill.candles_per_s) spreads up to a third more run to run
    e2e = {
        "main_s": median(total),
        "followup_s": live["cycle_p50_s"],
        "items_per_s": cold_candles / median(total),
    }
    return {
        "e2e": e2e, "setup": setup + live["startup"], "detail": detail,
        "layer": layer, "checks": check, "post": live["post"],
    }
