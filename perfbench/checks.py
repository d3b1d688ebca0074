"""Output checks. Each returns counts the workload turns into failed
operations; none of them is timed."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd


def table_diff(got, want) -> tuple[int, int]:
    """(rows only in ``got``, rows only in ``want``) by ``exceptAll``
    both ways; ``got`` is aligned to ``want``'s columns first."""
    got = got.select(*want.columns)
    return got.exceptAll(want).count(), want.exceptAll(got).count()


def expected_samples(frames: dict, batch_of_frame: list[int]) -> dict[int, Counter]:
    """J1 ground truth: ``streaming.match_state.simulate_match`` per pair
    key over the frames in processing order (micro-batch, then event
    time, as the operator sorts each batch). The key is the transaction
    index ``event_id // 2``, from which the pair mapping derives every
    join-key field."""
    from dnstap2clickhouse_spark.streaming.match_state import simulate_match

    rows = defaultdict(list)
    for eid, ts, b in zip(frames["event_id"].tolist(), frames["ts_us"].tolist(), batch_of_frame):
        rows[eid // 2].append((b, ts, eid % 2 == 1))
    out = {}
    for k, rs in rows.items():
        rs.sort(key=lambda r: (r[0], r[1]))
        deltas = simulate_match([(ts, resp) for _, ts, resp in rs])
        if deltas:
            out[k] = Counter(deltas)
    return out


def sample_diff(got: pd.DataFrame, want: dict[int, Counter], key_of: dict[tuple, int]) -> tuple[int, int]:
    """(samples emitted that the simulator does not expect, expected
    samples missing) — compared per key as multisets of deltas.
    ``key_of`` maps the operator's (identity, queryAddress, queryPort,
    id) key to the transaction index it was derived from."""
    emitted: dict[int, Counter] = defaultdict(Counter)
    for ident, addr, port, dns_id, delta in got[
        ["identity", "queryAddress", "queryPort", "id", "delta_us"]
    ].itertuples(index=False):
        emitted[key_of.get((ident, addr, int(port), int(dns_id)), -1)][int(delta)] += 1
    extra = sum((emitted[k] - want.get(k, Counter())).total() for k in emitted)
    missing = sum((want[k] - emitted.get(k, Counter())).total() for k in want)
    return extra, missing


def pair_key(k: int) -> tuple:
    """The (identity, queryAddress, queryPort, id) the pair mapping
    derives from ``event_id // 2`` (``sources.events._exprs``)."""
    return (f"ns{k % 3}", f"10.0.{k % 32}.{k % 251}", 1024 + k % 60000, k % 65536)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("bool")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
    out = out.reindex(sorted(out.columns), axis=1)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact, order-insensitive equality of a Spark result and its
    DuckDB oracle (same columns, same rows; floats compared exactly,
    NaN equal to NaN)."""
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        if not all(_eq(x, y) for x, y in zip(g[c].tolist(), w[c].tolist())):
            return False
    return True


def _eq(x, y) -> bool:
    if hasattr(x, "__len__") and not isinstance(x, str):
        return hasattr(y, "__len__") and len(x) == len(y) and all(map(_eq, x, y))
    if x is None or y is None or x is pd.NaT or y is pd.NaT:
        return (x is None or x is pd.NaT or _nan(x)) and (y is None or y is pd.NaT or _nan(y))
    return x == y or (_nan(x) and _nan(y))


def _nan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)
