"""batch_analytics: the query surface, as a dashboard or curation user
drives it.

Closed loop, one client: sequential passes over a DNS mix and a curation
mix of ``__spark_entry__.queries()`` on a seeded corpus (``corpus.py``).
Each entry is timed from the ``queries()[name](spark, dir)`` call (build:
table load and analysis) through the noop sink (run). The first pass is
untimed: it collects every result for the DuckDB ``oracle_sql()`` check
and pays the one-off compilation a warm dashboard session has behind it.
Set-up is one cold start, timed from process start until the session is
ready.

Traced runs add, after the measured passes, one drain of the J1
clientQueryResponseTime path (``j1.py``) over a small backlog written
through the real bridge, checked against ``simulate_match``; it feeds the
``match.*`` per-layer figures only.
"""

from __future__ import annotations

import os
import time

from common import RssSampler, Tracer, geomean, log, median
import j1
import streamstats as ss

DNS_MIX = (
    "dns_pipeline_e2e",  # decode + grouping sets + windows + top addresses
    "dns_q2_top_nxdomain",  # the response side
    "dns_q4_latency_series",  # J1 interval join + A9 average + series
)
CURATION_MIX = (  # the heavy operators
    "dedup_containment_prefix",
    "graph_triangle_count",
    "mm_image_ahash",
)
MIX = DNS_MIX + CURATION_MIX
SCALE = 0.05  # of the measured sf0.1 sizes (corpus.py)
J1_EVENTS = 1_500
#: --tiny (self-test): one entry of each mix on a 1 % corpus
PASSES = 3  # timed passes at least; each entry's figure is its best pass
TINY = {"mix": ("dns_q2_top_nxdomain", "mm_image_ahash"), "scale": 0.01, "j1_events": 200}


def _jobs_tasks(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def run(args, work: str, t_process: float, sampler: RssSampler, tracer: Tracer) -> dict:
    import __spark_entry__ as entry
    from dnstap2clickhouse_spark.config import EngineConfig
    from dnstap2clickhouse_spark.session import get_spark

    import corpus

    with tracer.span("get_spark", "session"):
        spark = get_spark("perfbench-batch_analytics")
    setup_s = time.time() - t_process
    log(f"set-up {setup_s:.2f} s")
    mix, scale, j1_events = MIX, SCALE, J1_EVENTS
    if args.tiny:
        mix, scale, j1_events = TINY["mix"], TINY["scale"], TINY["j1_events"]
    data = os.path.join(work, "corpus")
    rows = corpus.make_corpus(data, args.seed, scale)
    log(f"corpus {rows}")
    qs = entry.queries()
    sc = spark.sparkContext

    # check pass (untimed): collect each result for the oracle check
    results = {}
    for name in mix:
        t0 = time.perf_counter()
        results[name] = qs[name](spark, data).toPandas()
        log(f"check pass: {name} {time.perf_counter() - t0:.2f} s")

    passes: list[dict[str, tuple[float, float]]] = []
    counts: dict[str, list[tuple[int, int]]] = {n: [] for n in mix}
    t_end = time.time() + args.seconds
    while len(passes) < PASSES or time.time() < t_end:
        p = len(passes)
        times = {}
        with tracer.span("pass", "batch", trace=f"pass{p}") as root:
            for name in mix:
                group = f"pass{p}:{name}"
                sc.setJobGroup(group, group)
                with tracer.span(name, "batch.entry", parent=root, trace=f"pass{p}") as es:
                    t0 = time.perf_counter()
                    with tracer.span("build", "batch.build", parent=es, trace=f"pass{p}"):
                        df = qs[name](spark, data)
                    t1 = time.perf_counter()
                    with tracer.span("run", "batch.run", parent=es, trace=f"pass{p}"):
                        df.write.format("noop").mode("overwrite").save()
                    times[name] = (t1 - t0, time.perf_counter() - t1)
                if tracer.enabled:
                    counts[name].append(_jobs_tasks(spark, group))
        sc.setJobGroup("", "")
        passes.append(times)
        log(f"pass {p}: {sum(b + r for b, r in times.values()):.2f} s; build+run: "
            + " ".join(f"{n}={b:.2f}+{r:.2f}" for n, (b, r) in times.items()))
    peak_mb = sampler.stop()

    if tracer.enabled:
        # the J1 path, after the measured passes (per-layer figures only)
        frames, chunks, read = j1.write_backlog(work, "j1", args.seed, j1_events, sampler)
        out = os.path.join(work, "j1")
        j1_s, j1_prog = j1.drain(spark, EngineConfig(), chunks, out, tracer)
        jc = j1.check(spark, frames, chunks, out)
        log(f"J1: {len(frames['event_id'])} frames in {j1_s:.2f} s; {jc}")

    # -------------------------------------------------------------- checks
    import duckdb

    import checks

    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = entry.oracle_sql()
    bad = []
    for name in mix:
        got, want = results[name], con.execute(oracle[name]).df()
        if args.corrupt and name == mix[0]:
            got = got.iloc[1:]  # self-test: the checker must flag this
        if not checks.frames_equal(got, want):
            bad.append(name)
            log(f"CHECK {name}: differs from its DuckDB oracle ({len(got)} vs {len(want)} rows)")
    attempted = len(mix) * (len(passes) + 1)
    failed = len(bad) * (len(passes) + 1)
    if tracer.enabled:
        attempted += len(frames["event_id"])
        if jc["extra"] or jc["missing"] or jc["unread"] or read != len(frames["event_id"]) or not jc["a9_rows"]:
            log(f"CHECK J1: {jc}, bridge read {read} of {len(frames['event_id'])} frames")
            failed += len(frames["event_id"])
    spark.stop()

    # each entry's time is its best pass (the bench.py protocol's min),
    # which keeps a host stall in one pass out of the figures
    best = {n: min(sum(t[n]) for t in passes) for n in mix}
    dns = sum(v for n, v in best.items() if n in DNS_MIX)
    cur = geomean([v for n, v in best.items() if n in CURATION_MIX])
    result = {
        "attempted": attempted,
        "failed": failed,
        "valid": True,
        "e2e": {
            "setup_s": setup_s,
            # every entry moves both: the typical entry, and the whole mix
            "latency_s": geomean(list(best.values())),
            "latency_tail_s": sum(best.values()),
        },
        "info": {
            "peak_rss_mb": peak_mb,
            "passes": len(passes),
            "dns_dashboard_s": dns,
            "curation_geomean_s": cur,
            "error_ratio": failed / attempted,
            **{f"corpus_rows.{t}": n for t, n in rows.items()},
        },
    }
    if not tracer.enabled:
        return result
    mtrig = ss.triggers(j1_prog)
    layer = {
        "sut.peak_rss_mb": peak_mb,
        "session.start_s": setup_s,
        "bridge.frames_read": float(read),
        "workload.dns_dashboard_s": dns,
        "workload.curation_geomean_s": cur,
        "match.drain_s": j1_s,
        "match.triggers": float(len(mtrig)),
        "match.add_batch_ms_p50": median([t["ms"]["addBatch"] for t in mtrig]),
        "match.state_rows_end": float(mtrig[-1]["state_rows"]) if mtrig else 0.0,
        "match.samples_emitted": float(jc["emitted"]),
        "match.samples_expected_ratio": jc["emitted"] / jc["expected"] if jc["expected"] else 0.0,
        "match.a9_rows": float(jc["a9_rows"]),
    }
    for name in mix:
        layer[f"batch.{name}.build_s"] = median([t[name][0] for t in passes])
        layer[f"batch.{name}.run_s"] = median([t[name][1] for t in passes])
        layer[f"batch.{name}.jobs"] = median([j for j, _ in counts[name]])
        layer[f"batch.{name}.tasks"] = median([k for _, k in counts[name]])
    result["layer"] = layer
    return result
