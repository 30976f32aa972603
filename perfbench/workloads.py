"""The workloads. Each call runs one pass in the current session; the
runner repeats it in fresh processes. A pass drives the package through its
public calls only, times every operation from outside, and checks results
outside the timed region.

* ``daily_etl``: the reference's scheduled job over a seeded payload lake
  (sources → pipeline → sinks → streaming → snapshot).
* ``reports_cold``: report queries, each after ``clear_derived_memos``, so
  derived-artifact builds and eager checkpoints are paid.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np

import gen
from oracle import Oracle, value_hash

# Three of the largest cold-minus-warm gaps of the committed headline bench
# (the PCA Gram memo; label propagation over the memoized co-supply graph;
# Python data source registration and first scan) and two plain
# relational controls.
REPORTS = [
    "embedding_pca_power", "graph_label_propagation",
    "source_python_datasource", "q1_pricing_summary", "flagship_daily_change",
]


class Ctx:
    """State of one trial: its session, spans, checks and layer values.
    ``expected`` holds the oracle hashes, computed once per run by
    ``expectations``."""

    def __init__(self, tracer, sizes: dict, data: dict, seed: int,
                 perturb: bool, expected: dict[str, str]):
        self.tracer, self.sizes, self.data = tracer, sizes, data
        self.seed, self.perturb, self.expected = seed, perturb, expected
        self.spark = None
        self.checks: list[tuple[str, bool, str]] = []
        self.layers: dict[str, float] = {}
        self.state: dict = {}  # what a pass leaves for its checks

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append((what, bool(ok), detail))


def module_of(name: str) -> str:
    """Module (below ``operators``) that registered query ``name``."""
    from etl_pipeline_with_alpha_vantage_spark import registry

    mod = registry.QUERIES[name].__wrapped__.__module__.split(".", 1)[1]
    return mod.split(".", 1)[1] if mod.startswith("operators.") else mod


def _collect_hash(df) -> str:
    return value_hash(df.columns, [tuple(r) for r in df.collect()])


def reports_cold(ctx: Ctx, p: int) -> None:
    from etl_pipeline_with_alpha_vantage_spark import registry
    from etl_pipeline_with_alpha_vantage_spark.catalog import (
        clear_derived_memos)

    names = ctx.sizes["reports"]
    spark, t, sf = ctx.spark, ctx.tracer, ctx.data["sf_dir"]
    order = np.random.default_rng([ctx.seed, p]).permutation(len(names))
    for name in (names[i] for i in order):
        clear_derived_memos(spark)
        with t.op(name, module_of(name), p) as op:
            with t.phase(spark, op, "build"):
                df = registry.QUERIES[name](spark, sf)
            with t.phase(spark, op, "write"):
                df.write.format("noop").mode("overwrite").save()
        if not op.ok or p > 0:
            continue
        # Untimed and first trial only, while this query's memos are warm.
        try:
            got = _collect_hash(df)
        except Exception as e:  # a raising collect is a failed check
            ctx.check(f"oracle:{name}", False, f"{type(e).__name__}: {e}"[:300])
            continue
        ctx.check(f"oracle:{name}", got == ctx.expected[name])


def expectations(workload: str, sizes: dict, data: dict) -> dict[str, str]:
    """Oracle hashes the checks compare against, computed by DuckDB."""
    if workload == "daily_etl":
        return {"stream": _stream_oracle(data["landing"],
                                         sizes["files_per_trigger"])}
    from etl_pipeline_with_alpha_vantage_spark import registry

    registry.load_all()
    oracle = Oracle(data["sf_dir"])
    try:
        return {n: oracle.hash(registry.ORACLES[n]) for n in sizes["reports"]}
    finally:
        oracle.close()


# --- daily_etl -----------------------------------------------------------------


def _load(ctx: Ctx, op, payload_dir: str, wh: str) -> int:
    from etl_pipeline_with_alpha_vantage_spark.pipeline.alpha_vantage import (
        run_reference_pipeline, to_warehouse_schema)
    from etl_pipeline_with_alpha_vantage_spark.sinks.idempotent import (
        dedup_in_batch, upsert_ignore)

    t, spark = ctx.tracer, ctx.spark
    with t.phase(spark, op, "build"):
        df = to_warehouse_schema(dedup_in_batch(
            run_reference_pipeline(spark, payload_dir), ["symbol", "date"],
            "open"))
    with t.phase(spark, op, "write"):
        return upsert_ignore(spark, df, wh, ["symbol", "date"])


def _warehouse_state(spark, wh: str) -> dict:
    rows = spark.read.parquet(wh).groupBy("symbol").agg(
        {"*": "count", "close_price": "sum"}).collect()
    return {r["symbol"]: (r["count(1)"], str(Decimal(r["sum(close_price)"])
                                              .normalize()))
            for r in rows}


def _stream_oracle(landing: str, per_batch: int) -> str:
    """Hourly distinct-event counts a watermarked dedup must emit,
    computed by DuckDB. Micro-batch ``b`` reads files ``b * per_batch``
    onward; a row is late, and dropped, when its event time is at or below
    the watermark in force, at most the latest event of batches up to
    ``b - 2`` minus the one-hour delay (one batch later when Spark runs a
    no-data batch in between; the landing files plant late rows only where
    both agree)."""
    import duckdb

    sql = f"""
    WITH f AS (
      SELECT *, CAST(regexp_extract(filename, 'events-(\\d+)', 1) AS INT)
                // {per_batch} AS b
      FROM read_parquet('{landing}/events-*.parquet', filename = true)),
    mx AS (SELECT b, max(ts) AS m FROM f GROUP BY b),
    wm AS (SELECT b, (SELECT max(m) FROM mx p WHERE p.b < mx.b - 1)
                     - INTERVAL 1 HOUR AS w FROM mx)
    SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(DISTINCT event_id) AS n_events
    FROM f JOIN wm USING (b)
    WHERE w IS NULL OR ts > w
    GROUP BY 1, 2"""
    con = duckdb.connect()
    try:
        rel = con.sql(sql)
        return value_hash(list(rel.columns), rel.fetchall())
    finally:
        con.close()


class _Progress:
    """Streaming progress kept by a listener (traced runs only)."""

    def __new__(cls, sink: list):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()


def daily_etl(ctx: Ctx, p: int) -> None:
    from etl_pipeline_with_alpha_vantage_spark.sinks.snapshots import (
        snapshot_commit)
    from etl_pipeline_with_alpha_vantage_spark.sources.http import (
        fetch_distributed)
    from etl_pipeline_with_alpha_vantage_spark.streaming.runner import (
        dedup_hourly_counts, read_events_stream, run_available_now)

    spark, t, d = ctx.spark, ctx.tracer, ctx.data
    spec, exp = d["spec"], d["expected"]
    lake, day2, landing = d["lake"], d["day2"], d["landing"]
    per_batch = ctx.sizes["files_per_trigger"]
    lay = ctx.layers
    out = os.path.join(d["out"], f"pass{p}")
    wh, snap = os.path.join(out, "warehouse"), os.path.join(out, "snap")
    n1 = n_re = n2 = 0
    _restore_lake(d)

    with t.op("fetch", "sources.http", p) as op:
        with t.phase(spark, op, "build"):
            sym = spark.createDataFrame(
                [(s,) for s in spec.symbols], "symbol string")
            fetched = fetch_distributed(
                sym, lake, spec.fetch_day, sleep_sec=0,
                fetch_one=gen.Transport(spec)).select("symbol", "fetched",
                                                      "path")
        with t.phase(spark, op, "write"):
            rows = fetched.collect()
    if op.ok:
        n_live = sum(r["fetched"] for r in rows)
        n_cached = sum(r["path"] is not None and r["fetched"] for r in rows)
        ctx.check("fetch:misses", n_live == len(exp["fetch_symbols"]))
        ctx.check("fetch:cached", n_cached == exp["fetch_valid"])
        lay["sources.cache_hit_ratio"] = 1 - n_live / len(rows)

    with t.op("load", "pipeline.alpha_vantage", p) as op:
        n1 = _load(ctx, op, lake, wh)
    if op.ok:
        want = exp["day1_rows"] + (1 if ctx.perturb else 0)
        ctx.check("load:rows_appended", n1 == want, f"{n1} != {want}")

    with t.op("replay", "sinks.idempotent", p) as op:
        n_re = _load(ctx, op, lake, wh)
    if op.ok:
        ctx.check("replay:no_rows", n_re == 0, f"{n_re}")

    with t.op("day2", "sinks.idempotent", p) as op:
        n2 = _load(ctx, op, day2, wh)
    if op.ok:
        ctx.check("day2:rows_appended", n2 == exp["day2_new_rows"])

    progress: list = []
    if t.enabled:
        listener = _Progress(progress)
        spark.streams.addListener(listener)
    table = f"hourly_p{p}"
    with t.op("stream", "streaming.runner", p) as op:
        with t.phase(spark, op, "build"):
            stream = dedup_hourly_counts(read_events_stream(
                spark, landing, max_files_per_trigger=per_batch))
        with t.phase(spark, op, "write"):
            run_available_now(stream, table, os.path.join(out, "ckpt"))
    ctx.state.update(stream_ok=op.ok, table=table, wh=wh)
    if t.enabled:
        spark.streams.removeListener(listener)
        _stream_layers(ctx, progress, t.op_time(t.ops[-1]))

    token = f"daily-{spec.fetch_day}"
    versions = []
    for name in ("snapshot", "recommit"):
        with t.op(name, "sinks.snapshots", p) as op:
            with t.phase(spark, op, "build"):
                df = spark.read.parquet(wh)
            with t.phase(spark, op, "write"):
                versions.append(snapshot_commit(spark, snap, df, txn=token))
    if len(versions) == 2:
        ctx.check("snapshot:first_version", versions[0] == 1)
        ctx.check("recommit:txn_noop", versions[1] == versions[0])
        lay["sinks.commit_retries"] = len([
            f for f in os.listdir(os.path.join(snap, "_snapshots"))
            if f.endswith(".json")]) - 1

    if t.enabled:
        _sink_layers(ctx, wh, n1 + n_re + n2)
        _pipeline_layers(ctx, lake)


def daily_etl_checks(ctx: Ctx) -> None:
    """Result checks that need extra jobs, run after a pass (first trial
    only), so no timed work runs behind them."""
    spark, st, exp = ctx.spark, ctx.state, ctx.data["expected"]
    if st["stream_ok"]:
        res = spark.table(st["table"])
        rows = [tuple(r) for r in res.collect()]
        ctx.check("stream:hourly_counts",
                  value_hash(res.columns, rows) == ctx.expected["stream"],
                  f"{len(rows)} windows, {sum(r[2] for r in rows)} events")
    if os.path.isdir(st["wh"]):
        got = _warehouse_state(spark, st["wh"])
        ctx.check("day2:per_symbol", got == {
            s: (n, str(Decimal(v).normalize()))
            for s, (n, v) in exp["per_symbol"].items()})
        ctx.check("day2:rows_total", sum(n for n, _ in got.values())
                  == exp["day1_rows"] + exp["day2_new_rows"])


def _restore_lake(d: dict) -> None:
    """Remove payloads an earlier pass fetched, so every pass pays the
    same misses."""
    for s in d["expected"]["fetch_symbols"]:
        path = os.path.join(d["lake"], f"{s}_{d['spec'].fetch_day}.json")
        if os.path.exists(path):
            os.remove(path)


def _sink_layers(ctx: Ctx, wh: str, appended: int) -> None:
    files = [os.path.join(r, f) for r, _d, fs in os.walk(wh) for f in fs
             if f.endswith(".parquet")]
    d = ctx.data
    raw = sum(os.path.getsize(os.path.join(x, f))
              for x in (d["lake"], d["day2"]) for f in os.listdir(x))
    ctx.layers["sinks.files_written"] = len(files)
    ctx.layers["sinks.write_amp"] = sum(map(os.path.getsize, files)) / raw
    ctx.layers["sinks.rows_appended"] = appended


def _pipeline_layers(ctx: Ctx, lake: str) -> None:
    """Payload counts for the traced run, measured by extra jobs outside
    every operation's spans."""
    from etl_pipeline_with_alpha_vantage_spark.pipeline.alpha_vantage import (
        read_raw_payloads, unnest_and_standardize)

    n_files = len([f for f in os.listdir(lake) if f.endswith(".json")])
    raw = read_raw_payloads(ctx.spark, lake)
    ctx.layers["pipeline.payloads_read"] = n_files
    ctx.layers["pipeline.valid_ratio"] = raw.count() / n_files
    ctx.layers["pipeline.rows_out"] = unnest_and_standardize(raw).count()


def _stream_layers(ctx: Ctx, progress: list, tick_s: float) -> None:
    lay = ctx.layers
    batches = [p for p in progress if p.numInputRows > 0]
    rows = sum(p.numInputRows for p in progress)
    durs = [p.batchDuration / 1000 for p in batches] or [0.0]
    state = progress[-1].stateOperators if progress else []
    lay["streaming.batches"] = len(batches)
    lay["streaming.input_rows"] = rows
    lay["streaming.rows_per_s"] = rows / tick_s if tick_s else 0.0
    lay["streaming.batch_p50_s"] = float(np.median(durs))
    lay["streaming.state_rows"] = sum(s.numRowsTotal for s in state)
    lay["streaming.state_mb"] = sum(s.memoryUsedBytes for s in state) / 2**20
    lay["streaming.late_dropped"] = sum(
        s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators)


WORKLOADS = {
    "daily_etl": daily_etl,
    "reports_cold": reports_cold,
}

CHECKS = {
    "daily_etl": daily_etl_checks,
    "reports_cold": lambda ctx: None,  # checked inline, while memos are warm
}
