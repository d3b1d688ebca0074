"""live_ingest: the daemon as deployed, under an open-loop load.

A separate generator process sends seeded DNS frames at a fixed rate
over one framestream connection (binary bridge codec) into a
``SocketBridge``; ``build_streams`` + ``start_queries`` run clientQuery
and clientResponse on a processing-time trigger. Each frame's freshness
is the end of the micro-batch that first reads it (in the query its row
feeds: even event ids clientQuery, odd clientResponse) minus its
scheduled send time. Frames sent during warm-up, or read by a trigger
that started during warm-up, are not counted.

Set-up is one cold start, timed from process start (Python imports, the
JVM launch, the session) until the bridge listens and both queries run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np

from common import BENCH_DIR, RssSampler, Tracer, log, median, quantile
import streamstats as ss
import traffic

RATE = 2000.0  # frames/s; one 2-s interval's micro-batch takes 1.0-1.8 s on 4 cores
WRITE_INTERVAL_S = 2
WARMUP_S = 6.0  # the first triggers of fresh queries run slow
GRACE_S = 12.0  # after the load ends: time allowed for the last frames to be read
PRIME_ID_OFFSET = 1 << 40  # even: keeps each priming frame's query/response parity
MAX_LATE_MS = 50.0  # generator p99 lateness above this makes the run invalid
QUERIES = ("clientQuery", "clientResponse")
# Share of paired transactions whose query frame is held back behind its
# response. 0: frames arrive in event-time order. The daemon's output is
# wrong when they do not: ``read_output_table`` keys a clientQuery row on
# its ``queryTime`` (the window's min, once the sink's column mapping has
# dropped ``windowStart``), so a query that lands in a later micro-batch
# than a same-window query with a later event time leaves a stale row.
# 0.1 reproduces that; the J1 path, which the held-back queries exist
# for, keeps them (``j1.py``).
OUT_OF_ORDER = 0.0


def _setup(work: str, t_process: float, tracer: Tracer):
    """Session, bridge listening, both queries started. Returns the
    pieces, the set-up time from process start and the session's part."""
    from dnstap2clickhouse_spark.__main__ import build_streams, start_queries
    from dnstap2clickhouse_spark.config import AggregatorConfig, EngineConfig
    from dnstap2clickhouse_spark.session import get_spark
    from dnstap2clickhouse_spark.sources.bridge import SocketBridge

    base = os.path.join(work, "daemon")
    paths = {
        "socket": os.path.join(base, "sock", "dnstap.sock"),
        "bridge": os.path.join(base, "bridge"),
        "out": os.path.join(base, "tables"),
    }
    os.makedirs(os.path.dirname(paths["socket"]))
    with tracer.span("setup", "session") as parent:
        with tracer.span("get_spark", "session", parent=parent):
            spark = get_spark("perfbench-live_ingest")
        t_session = time.time()
        with tracer.span("bridge.start", "sources.bridge", parent=parent):
            bridge = SocketBridge(paths["socket"], paths["bridge"])
            bridge.start()
        cfg = EngineConfig()
        cfg.aggregator = AggregatorConfig(write_interval_s=WRITE_INTERVAL_S)
        with tracer.span("build_streams+start_queries", "streaming.pipeline", parent=parent):
            queries = start_queries(spark, cfg, build_streams(spark, cfg, paths["bridge"]), paths["out"])
    return spark, bridge, cfg, queries, paths, time.time() - t_process, t_session - t_process


def _prime(seed: int, bridge, queries, paths) -> dict:
    """Untimed: push one chunk through the queries so the JVM's one-off
    costs (code generation, first state store, first sink write) are paid
    before the load. Its frames carry event ids of their own and are part
    of the checked output; returns them."""
    frames = traffic.make_frames(seed + 1_000_003, RATE, 0.5, int(time.time() * 1e6), OUT_OF_ORDER)
    frames["event_id"] = frames["event_id"] + PRIME_ID_OFFSET
    traffic.send_all(paths["socket"], frames)
    bridge.flush()
    deadline = time.time() + 60
    while time.time() < deadline and any(
        sum(t["rows"] for t in ss.triggers(q.recentProgress)) < len(frames["event_id"]) for q in queries
    ):
        time.sleep(0.1)
    return frames


def run(args, work: str, t_process: float, sampler: RssSampler, tracer: Tracer) -> dict:
    writes: list = []
    if tracer.enabled:
        ss.traced_writer(writes)
    spark, bridge, cfg, queries, paths, setup_s, session_s = _setup(work, t_process, tracer)
    log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s)")
    primed = _prime(args.seed, bridge, queries, paths)
    n_primed = len(primed["event_id"])

    # ---------------------------------------------------------------- load
    load_s = WARMUP_S + args.seconds
    t0_us = int((time.time() + 1.5) * 1e6)  # time for the generator to start
    sent_path = os.path.join(work, "sent.npy")
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(BENCH_DIR, "traffic.py"),
            "--socket", paths["socket"], "--seed", str(args.seed), "--rate", str(RATE),
            "--seconds", str(load_s), "--t0-us", str(t0_us), "--out", sent_path,
            "--out-of-order", str(OUT_OF_ORDER),
        ],
    )
    sampler.exclude.add(gen.pid)
    frames = traffic.make_frames(args.seed, RATE, load_s, t0_us, OUT_OF_ORDER)
    due = frames["send_us"] / 1e6
    n = len(due)
    lag_max = 0
    try:
        while gen.poll() is None:
            now = time.time()
            lag_max = max(lag_max, int(np.searchsorted(due, now, side="right")) + n_primed - bridge.frames_read)
            time.sleep(0.1)
            if now > due[-1] + 30:
                raise TimeoutError("generator did not finish")
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    t_load_end = time.time()
    bridge.flush()  # end of stream: the last partial chunk lands (as on daemon stop)

    def covered() -> int:
        return min(
            sum(t["rows"] for t in ss.triggers(q.recentProgress)) for q in queries
        )

    while covered() < n_primed + n and time.time() - t_load_end < GRACE_S:
        time.sleep(0.1)
    progress = {q.name: list(q.recentProgress) for q in queries}
    for q in queries:
        q.stop()
    bridge.stop()
    peak_mb = sampler.stop()

    # ------------------------------------------------------------ figures
    sent_at = np.load(sent_path) / 1e6
    late_ms = (sent_at - due) * 1e3
    late_p99 = quantile(late_ms.tolist(), 0.99)
    trig = {name: ss.triggers(progress[name]) for name in QUERIES}
    warm_end = t0_us / 1e6 + WARMUP_S
    for name in QUERIES:  # trigger timeline: start (s after t0) + duration / rows
        log(name + " " + " ".join(
            f"{t['start'] - t0_us / 1e6:.1f}+{t['end'] - t['start']:.2f}/{t['rows']}" for t in trig[name]))
    everything = {k: np.concatenate([primed[k], frames[k]]) for k in frames}
    chunk_of, chunk_names, mtimes = ss.frame_chunks(everything, paths["bridge"])
    frames_in_chunks = sum(c is not None for c in chunk_of)
    chunk_of = chunk_of[n_primed:]  # from here on: the load's frames
    first_due: dict[str, float] = {}
    chunk_rows: dict[str, int] = {}
    for c, d in zip(chunk_of, due.tolist()):
        if c is not None:
            first_due.setdefault(c, d)
            chunk_rows[c] = chunk_rows.get(c, 0) + 1
    chunk_wait = [m - first_due[c] for c, m in zip(chunk_names, mtimes) if c in first_due]
    # each frame is timed in the query its row feeds (even event ids
    # clientQuery, odd clientResponse): the batch that read its chunk
    by_batch = {name: {t["batch"]: t for t in trig[name]} for name in QUERIES}
    batch_of = {
        name: ss.chunk_batches(os.path.join(paths["out"], f"_chk_{name}")) for name in QUERIES
    }
    fresh, lost = [], 0
    for e, c, d in zip(frames["event_id"].tolist(), chunk_of, due.tolist()):
        name = QUERIES[e % 2]
        t = by_batch[name].get(batch_of[name].get(c)) if c else None
        if t is None:
            lost += 1
        elif d >= warm_end and t["start"] >= warm_end:
            fresh.append(t["end"] - d)
    # capacity: frames read per second of trigger time, pooled over both
    # queries' triggers that start after warm-up
    measured = [t for name in QUERIES for t in trig[name] if t["start"] >= warm_end]
    busy = sum(t["end"] - t["start"] for t in measured)
    capacity = sum(t["rows"] for t in measured) / busy if busy > 0 else 0.0
    log(f"frames {n} read {bridge.frames_read} lost {lost} fresh samples {len(fresh)} "
        f"late p99 {late_p99:.1f} ms lag max {lag_max}")

    # -------------------------------------------------------------- checks
    from dnstap2clickhouse_spark.__main__ import read_output_table
    from dnstap2clickhouse_spark.operators.columns import apply_column_config
    from dnstap2clickhouse_spark.operators.dns_pipeline import (
        client_query_table,
        client_response_table,
    )
    from dnstap2clickhouse_spark.sources.events import dns_query_stream, dns_response_stream
    import checks

    import pyarrow.parquet as pq

    exp = os.path.join(work, "expected.parquet")
    pq.write_table(traffic.frames_table(everything), exp)
    ev = spark.read.parquet(exp)
    # the batch tables over the same events, through the sink's K1
    # column mapping (which drops windowStart, as the ClickHouse DDL does)
    want = {
        name: apply_column_config(df, {k: v for k, v in mapping.items() if k in df.columns})
        for name, df, mapping in (
            ("clientQuery",
             client_query_table(spark, "", cfg.aggregator, queries=dns_query_stream(spark, "", ev)),
             cfg.sink.query_columns),
            ("clientResponse",
             client_response_table(spark, "", cfg.aggregator, responses=dns_response_stream(spark, "", ev)),
             cfg.sink.response_columns),
        )
    }
    if args.corrupt:
        # self-test: drop one expected row so the checker must flag it
        want["clientResponse"] = want["clientResponse"].limit(int(want["clientResponse"].count()) - 1)
    failed = lost
    sink = {}
    for name in QUERIES:
        got = read_output_table(spark, os.path.join(paths["out"], name))
        extra, missing = checks.table_diff(got, want[name])
        if extra or missing:
            failed += int(np.sum(frames["event_id"] % 2 == QUERIES.index(name)))
            log(f"CHECK {name}: {extra} rows not expected, {missing} expected rows missing")
        if tracer.enabled:
            sink.update(ss.sink_metrics(spark, name, os.path.join(paths["out"], name), got.count()))
    sent = n_primed + n
    if bridge.frames_read != sent or frames_in_chunks != sent:
        log(f"CHECK bridge: sent {sent}, read {bridge.frames_read}, in chunks {frames_in_chunks}")
        failed = max(failed, sent - min(bridge.frames_read, frames_in_chunks))
    spark.stop()
    invalid = late_p99 > MAX_LATE_MS
    if invalid:
        log(f"INVALID RUN: generator p99 lateness {late_p99:.1f} ms > {MAX_LATE_MS} ms")

    result = {
        "attempted": n,
        "failed": min(failed, n),
        "valid": not invalid,
        "e2e": {
            "setup_s": setup_s,
            "latency_s": quantile(fresh, 0.5),
            "latency_tail_s": quantile(fresh, 0.9),
        },
        "info": {
            "peak_rss_mb": peak_mb,
            "capacity_eps": capacity,
            "freshness_samples": len(fresh),
            "backlog_end_frames": lost,
            "error_ratio": min(failed, n) / n,
            "offered_rate_eps": n / load_s,
            "measured_window_s": args.seconds,
        },
    }
    if not tracer.enabled:
        return result

    # ------------------------------------------------- per-layer + spans
    layer = {
        "sut.peak_rss_mb": peak_mb,
        "stream.capacity_eps": capacity,
        "session.start_s": session_s,
        "workload.freshness_samples": float(len(fresh)),
        "workload.backlog_end_frames": float(lost),
    }
    layer.update({
        "bridge.frames_read": float(bridge.frames_read - n_primed),
        "bridge.chunks_written": float(len(chunk_names)),
        "bridge.rows_per_chunk": median(list(chunk_rows.values())),
        "bridge.lag_frames_max": float(lag_max),
        "bridge.chunk_wait_s_p50": median(chunk_wait),
        "gen.lateness_ms_p99": late_p99,
    })
    # per-trigger figures over the measured window: the triggers that
    # start after warm-up and before the load ends
    wall = t_load_end - warm_end
    for name in QUERIES:
        window = [t for t in trig[name] if warm_end <= t["start"] < t_load_end]
        layer.update(ss.layer_metrics(name, window, wall))
    layer["stream.source_reads_per_event"] = sum(
        t["rows"] for name in QUERIES for t in trig[name]
    ) / (n_primed + n)
    layer.update(sink)
    # spans: generator sends (one per 100 ms of schedule), chunk landings,
    # triggers with their phases, sink writes under their addBatch
    step = int(RATE / 10)
    for i in range(0, n, step):
        j = min(i + step, n) - 1
        tracer.add("generator.send", "generator", float(due[i]), float(sent_at[j]), frames=j - i + 1)
    for c, m in zip(chunk_names, mtimes):
        if c in first_due:
            tracer.add("bridge.chunk", "sources.bridge", first_due[c], m, trace=c, rows=chunk_rows[c])
    add_ids = {}
    for name in QUERIES:
        add_ids[name] = ss.trace_triggers(tracer, name, "streaming.pipeline", trig[name])
    for table, epoch, a, b in writes:
        if table in add_ids:
            tracer.add("sink.write", "sinks", a, b, parent=add_ids[table].get(epoch),
                       trace=f"{table}#{epoch}")
    result["layer"] = layer
    return result
