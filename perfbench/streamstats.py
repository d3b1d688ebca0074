"""Reading what a streaming query did: per-trigger progress (the public
``StreamingQueryProgress``), which bridge chunks each micro-batch read,
what the sink wrote, and spans derived from all three."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

from common import Tracer, median

#: durationMs phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def triggers(progress: list) -> list[dict]:
    """Data-carrying micro-batches: id, start/end wall time, rows, the
    durationMs phases and the summed state-operator figures."""
    out = []
    for p in progress:
        d = p.durationMs or {}
        if not p.numInputRows and "addBatch" not in d:
            continue  # idle poll, no batch ran
        start = _ts(p.timestamp)
        states = p.stateOperators or []
        out.append(
            {
                "batch": p.batchId,
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1e3,
                "rows": int(p.numInputRows),
                "ms": {k: float(d.get(k, 0)) for k in PHASES + ("triggerExecution",)},
                "state_rows": sum(int(s.numRowsTotal) for s in states),
                "state_bytes": sum(int(s.memoryUsedBytes) for s in states),
                "state_commit_ms": sum(float(s.commitTimeMs) for s in states),
                "dropped": sum(int(s.numRowsDroppedByWatermark) for s in states),
            }
        )
    return out


def chunk_batches(checkpoint: str) -> dict[str, int]:
    """Chunk file name -> the micro-batch that read it.

    The file source's own log (plain and compacted entries) numbers its
    entries by the source's log offset, which advances only when new
    files are found; the query's offset log maps each micro-batch to the
    source log offset it ended at. A micro-batch without new files (a
    no-data batch) repeats the offset, so each offset belongs to the first
    micro-batch that reached it."""
    first_batch: dict[int, int] = {}
    for f in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        base = os.path.basename(f)
        if not base.isdigit():
            continue
        with open(f) as fh:
            lines = fh.read().splitlines()
        if len(lines) < 3 or not lines[2].startswith("{"):
            continue
        off = int(json.loads(lines[2])["logOffset"])
        first_batch[off] = min(first_batch.get(off, int(base)), int(base))
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        base = os.path.basename(f)
        if base.startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                if int(e["batchId"]) in first_batch:
                    out[os.path.basename(e["path"])] = first_batch[int(e["batchId"])]
    return out


def layer_metrics(name: str, trig: list[dict], wall: float) -> dict[str, float]:
    """The per-trigger costs of one query as ``stream.<name>.*``."""

    def p50(key):
        return median([t["ms"][key] for t in trig])

    last = trig[-1] if trig else {"state_rows": 0, "state_bytes": 0}
    pre = f"stream.{name}."
    return {
        pre + "trigger_ms_p50": p50("triggerExecution"),
        pre + "latest_offset_ms_p50": p50("latestOffset"),
        pre + "wal_commit_ms_p50": p50("walCommit"),
        pre + "query_planning_ms_p50": p50("queryPlanning"),
        pre + "add_batch_ms_p50": p50("addBatch"),
        pre + "commit_offsets_ms_p50": p50("commitOffsets"),
        pre + "state_commit_ms_p50": median([t["state_commit_ms"] for t in trig]),
        pre + "busy_ratio": sum(t["end"] - t["start"] for t in trig) / wall if wall > 0 else 0.0,
        pre + "state_rows_end": float(last["state_rows"]),
        pre + "state_memory_mb_end": last["state_bytes"] / 2**20,
        pre + "rows_dropped_by_watermark": float(sum(t["dropped"] for t in trig)),
    }


def trace_triggers(
    tracer: Tracer, query: str, layer: str, trig: list[dict], parent: int | None = None
) -> dict[int, int]:
    """One span per micro-batch with its durationMs phases as children,
    laid end to end from the trigger start in execution order (the
    durations are Spark's; their placement assumes no gaps). Returns
    batch id -> the addBatch span id."""
    add_ids: dict[int, int] = {}
    for t in trig:
        tid = f"{query}#{t['batch']}"
        root = tracer.add(
            "trigger", layer, t["start"], t["end"], parent, tid, query=query, rows=t["rows"]
        )
        at = t["start"]
        for ph in PHASES:
            dur = t["ms"][ph] / 1e3
            sid = tracer.add(ph, layer, at, at + dur, parent=root, trace=tid)
            if ph == "addBatch":
                add_ids[t["batch"]] = sid
            at += dur
    return add_ids


def sink_metrics(spark, table: str, path: str, collapsed_rows: int) -> dict[str, float]:
    files = glob.glob(os.path.join(path, "*.parquet"))
    rows = spark.read.parquet(path).count() if files else 0
    pre = f"sink.{table}."
    return {
        pre + "rows_written": float(rows),
        pre + "files_written": float(len(files)),
        pre + "mb_written": sum(os.path.getsize(f) for f in files) / 2**20,
        pre + "reemit_ratio": rows / collapsed_rows if collapsed_rows else 0.0,
    }


def traced_writer(spans: list) -> None:
    """Wrap ``__main__._mapped_writer`` so each foreachBatch call into
    the sink appends (table, epoch, start, end) to ``spans`` (traced runs
    only; the program is unchanged, the wrapper sits in this process
    around the call)."""
    import time

    import dnstap2clickhouse_spark.__main__ as daemon

    orig = daemon._mapped_writer

    def make(path: str, mapping: dict):
        write = orig(path, mapping)
        table = os.path.basename(path)

        def timed(df, epoch_id):
            t0 = time.time()
            try:
                write(df, epoch_id)
            finally:
                spans.append((table, int(epoch_id), t0, time.time()))

        return timed

    daemon._mapped_writer = make


def frame_chunks(frames: dict, chunk_dir: str) -> tuple[list[str | None], list[str], list[float]]:
    """Which chunk file holds each frame (in send order), plus the chunk
    names by landing time and their mtimes. Frames are matched by event
    id; a repeated id (collision transactions) takes the earliest chunk
    holding a copy not matched yet."""
    import pyarrow.parquet as pq

    names = sorted(
        (c for c in os.listdir(chunk_dir) if c.endswith(".parquet")),
        key=lambda c: os.path.getmtime(os.path.join(chunk_dir, c)),
    )
    mtimes = [os.path.getmtime(os.path.join(chunk_dir, c)) for c in names]
    holders: dict[int, list[str]] = {}
    for c in names:
        for e in pq.read_table(os.path.join(chunk_dir, c), columns=["event_id"]).column(0).to_pylist():
            holders.setdefault(e, []).append(c)
    out = []
    for e in frames["event_id"].tolist():
        cs = holders.get(e)
        out.append(cs.pop(0) if cs else None)
    return out, names, mtimes
