"""The J1 clientQueryResponseTime path over a stored backlog, as traced
``batch_analytics`` runs drive it:

    bridge chunks -> dns_pair_streams -> tag_pair_streams
      -> stateful_match_once(ttl=max_response_delay) -> samples (parquet)
      -> avg_response_time_samples (A9) -> parquet

plus the backlog writer (generator process -> framestream -> the real
``SocketBridge``) and the check of the samples against
``simulate_match``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from common import BENCH_DIR, RssSampler, Tracer
import streamstats as ss
import traffic

RATE = 4000.0  # a backlog is this many frames/s of recorded traffic
T0_US = 1_700_000_000_000_000  # event time of a backlog's first frame


def write_backlog(work: str, name: str, seed: int, n: int, sampler: RssSampler):
    """Write ``n`` frames of seeded traffic through a ``SocketBridge``
    (generator process, closed loop). Returns (frames, chunk dir,
    frames the bridge read)."""
    from dnstap2clickhouse_spark.sources.bridge import SocketBridge

    sock = os.path.join(work, f"sock-{name}", "dnstap.sock")
    chunks = os.path.join(work, f"bridge-{name}")
    os.makedirs(os.path.dirname(sock))
    bridge = SocketBridge(sock, chunks)
    bridge.start()
    secs = n / RATE
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(BENCH_DIR, "traffic.py"), "--closed",
            "--socket", sock, "--seed", str(seed), "--rate", str(RATE),
            "--seconds", str(secs), "--t0-us", str(T0_US),
        ]
    )
    sampler.exclude.add(gen.pid)
    try:
        code = gen.wait(timeout=150)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    bridge.stop()  # flushes the last partial chunk
    if code != 0:
        raise RuntimeError(f"generator exited with {code}")
    return traffic.make_frames(seed, RATE, secs, T0_US), chunks, bridge.frames_read


def drain(spark, cfg, chunks: str, out: str, tracer: Tracer) -> tuple[float, list]:
    """Run the path to completion over ``chunks``, writing under ``out``.
    Returns the seconds from stream start until A9 is written and the
    stream's progress; with tracing on, its triggers are recorded under
    the stream's span."""
    from dnstap2clickhouse_spark.__main__ import BRIDGE_SCHEMA
    from dnstap2clickhouse_spark.operators.join import avg_response_time_samples
    from dnstap2clickhouse_spark.sources.events import dns_pair_streams
    from dnstap2clickhouse_spark.streaming.match_state import stateful_match_once, tag_pair_streams

    samples = os.path.join(out, "samples")
    a9 = os.path.join(out, "clientQueryResponseTime")
    with tracer.span("j1.drain", "streaming.match_state", trace="j1") as root:
        t = time.time()
        with tracer.span("j1.stream", "streaming.match_state", parent=root, trace="j1") as stream:
            events = spark.readStream.schema(BRIDGE_SCHEMA).parquet(chunks)
            q, r = dns_pair_streams(spark, "", events)
            matched = stateful_match_once(tag_pair_streams(q, r), ttl=cfg.aggregator.max_response_delay)
            query = (
                matched.writeStream.outputMode("append")
                .option("checkpointLocation", os.path.join(out, "_chk_match"))
                .foreachBatch(lambda df, _e: df.write.mode("append").parquet(samples))
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        with tracer.span("a9.average", "operators.join", parent=root, trace="j1"):
            avg_response_time_samples(
                spark.read.parquet(samples), f"{cfg.aggregator.response_time_interval_s} seconds"
            ).write.parquet(a9)
        took = time.time() - t
    progress = list(query.recentProgress)
    ss.trace_triggers(tracer, "j1", "streaming.match_state", ss.triggers(progress), stream)
    return took, progress


def check(spark, frames: dict, chunks: str, out: str) -> dict[str, int]:
    """Compare the samples one drain wrote with ``simulate_match`` run per
    key in the operator's processing order; count the A9 rows."""
    import checks

    chunk_of, _, _ = ss.frame_chunks(frames, chunks)
    batch_of = ss.chunk_batches(os.path.join(out, "_chk_match"))
    batch_of_frame = [batch_of.get(c, -1) for c in chunk_of]
    want = checks.expected_samples(frames, batch_of_frame)
    ks = [e // 2 for e in frames["event_id"].tolist()]
    key_of = {checks.pair_key(k): k for k in range(min(ks), max(ks) + 1)}
    got = spark.read.parquet(os.path.join(out, "samples")).toPandas()
    extra, missing = checks.sample_diff(got, want, key_of)
    return {
        "extra": extra,
        "missing": missing,
        "unread": sum(1 for b in batch_of_frame if b < 0),
        "expected": sum(c.total() for c in want.values()),
        "emitted": len(got),
        "a9_rows": spark.read.parquet(os.path.join(out, "clientQueryResponseTime")).count(),
    }
