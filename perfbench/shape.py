"""Measure the value shapes of a corpus directory: the statistics the
batch corpus generator (``corpus.py``) draws from.

    python3 perfbench/shape.py <corpus_dir> [--out perfbench/corpus_shape.json] [--outcomes]

reads ``events``, ``documents`` and ``lineitem`` (the tables the
benchmarked entries read) with DuckDB and prints, or writes, one JSON
object. ``corpus_shape.json`` holds this output for the repo's sf0.1
test corpus (TESTDATA.md); run the same command on a generated corpus to
compare. ``--outcomes`` adds what the heavy entries see of the shapes:
the co-purchase graph census and the containment pair count, through the
entries' own DuckDB ``oracle_sql()`` bodies.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

#: quantile grid for numeric columns (inverse-CDF sampling in corpus.py)
GRID = [i / 100 for i in range(101)]


def _con(d: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con


def _freq(con, table: str, col: str) -> dict[str, float]:
    rows = con.execute(f"SELECT {col}, count(*) FROM {table} GROUP BY 1 ORDER BY 1").fetchall()
    n = sum(c for _, c in rows)
    return {str(k): c / n for k, c in rows}


def _quantiles(con, table: str, expr: str) -> list[float]:
    return [float(v) for v in con.execute(f"SELECT quantile_cont({expr}, {GRID}) FROM {table}").fetchone()[0]]


def _keys(con, table: str, col: str) -> dict[str, float]:
    """A key column: its value range, distinct count, and rows per key
    (mean and standard deviation; a uniform draw gives std ~ sqrt(mean))."""
    lo, hi, n = con.execute(f"SELECT min({col}), max({col}), count(DISTINCT {col}) FROM {table}").fetchone()
    mean, std = con.execute(
        f"SELECT avg(c), stddev_pop(c) FROM (SELECT count(*) AS c FROM {table} GROUP BY {col})"
    ).fetchone()
    return {"min": int(lo), "max": int(hi), "distinct": int(n), "rows_per_key": mean, "rows_per_key_std": std}


def measure(d: str, outcomes: bool = False) -> dict:
    con = _con(d)
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    ev_n, t_lo, t_hi, unsorted = one(
        "SELECT count(*), min(epoch_us(ts)), max(epoch_us(ts)), "
        "count(*) FILTER (WHERE ts < prev) FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS prev FROM events)"
    )
    events = {
        "rows": ev_n,
        "ts_span_s": (t_hi - t_lo) / 1e6,
        "ts_decreasing_steps": unsorted,  # 0: timestamps increase with event_id
        "user_id": _keys(con, "events", "user_id"),
        "event_type": _freq(con, "events", "event_type"),
        "value_quantiles": _quantiles(con, "events", "value"),
        "props_k": _keys(con, "events", "CAST(json_extract(props, '$.k') AS BIGINT)"),
    }
    docs = con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()
    texts = [t for (t,) in docs]
    every, dup, lengths, vocab = set(texts), 0, [], {}
    for t in texts:
        words = t.split()
        if len(words) > 1 and words[-1] == "dup" and " ".join(words[:-1]) in every:
            dup += 1  # a near-duplicate: another document plus one token
        else:
            lengths.append(len(words))
            for w in words:
                vocab[w] = vocab.get(w, 0) + 1
    total = sum(vocab.values())
    documents = {
        "rows": len(texts),
        "near_dup_share": dup / len(texts),
        "tokens_min": min(lengths),
        "tokens_max": max(lengths),
        "tokens_mean": sum(lengths) / len(lengths),
        "vocab": {w: c / total for w, c in sorted(vocab.items())},
        "lang": _freq(con, "documents", "lang"),
        "sources": one("SELECT count(DISTINCT source) FROM documents")[0],
        "n_chars_is_length": one("SELECT bool_and(n_chars = length(text)) FROM documents")[0],
    }
    lines_per_order = con.execute(
        "SELECT c, count(*) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) GROUP BY 1 ORDER BY 1"
    ).fetchall()
    lineitem = {
        "rows": one("SELECT count(*) FROM lineitem")[0],
        "l_orderkey": _keys(con, "lineitem", "l_orderkey"),
        "lines_per_order": {str(c): n for c, n in lines_per_order},
        "l_partkey": _keys(con, "lineitem", "l_partkey"),
        "l_suppkey": _keys(con, "lineitem", "l_suppkey"),
        "l_linenumber": _freq(con, "lineitem", "l_linenumber"),
        "l_quantity": _freq(con, "lineitem", "CAST(l_quantity AS BIGINT)"),
        "l_extendedprice_quantiles": _quantiles(con, "lineitem", "l_extendedprice"),
        "l_discount": _freq(con, "lineitem", "CAST(round(l_discount * 100) AS BIGINT)"),
        "l_tax": _freq(con, "lineitem", "CAST(round(l_tax * 100) AS BIGINT)"),
        "l_returnflag": _freq(con, "lineitem", "l_returnflag"),
        "l_linestatus": _freq(con, "lineitem", "l_linestatus"),
        "l_shipdate_days": list(one(
            "SELECT min(epoch(l_shipdate)) // 86400, max(epoch(l_shipdate)) // 86400, "
            "count(DISTINCT l_shipdate) FROM lineitem"
        )),
    }
    out = {"source": os.path.basename(os.path.normpath(d)), "events": events,
           "documents": documents, "lineitem": lineitem}
    if outcomes:
        out["outcomes"] = _outcomes(con)
    return out


def _outcomes(con) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from dnstap2clickhouse_spark.functions.dedup import containment_pairs_sql
    from dnstap2clickhouse_spark.plans.graph import triangle_count_sql

    nodes, edges, wedges, triangles = con.execute(triangle_count_sql()).fetchone()
    pairs = con.execute(f"SELECT count(*) FROM ({containment_pairs_sql()})").fetchone()[0]
    return {"copurchase_nodes": nodes, "copurchase_edges": edges, "copurchase_wedges": wedges,
            "copurchase_triangles": triangles, "containment_pairs": pairs}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("corpus_dir")
    p.add_argument("--out")
    p.add_argument("--outcomes", action="store_true")
    args = p.parse_args(argv)
    shape = measure(args.corpus_dir, args.outcomes)
    text = json.dumps(shape, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
