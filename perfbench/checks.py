"""Output checks, computed apart from graft with DuckDB.

Batch queries: each result a round wrote is compared with the query's
DuckDB oracle SQL (graft's `SparkEntry.oracleSql`) run on the same fixture
files. Rows compare as a multiset unless the oracle orders them; floats
compare with the absolute tolerance 1e-9 that tools/check.py uses.

Stream: the topic, the TableView, the keyed counters and the window
counts are recomputed from the produced topic files and the generated raw
batches, and the state-size property is checked after every append.

Each check takes `mutate`: when true it corrupts the result it was handed
(one cell or one row) before comparing, which must make the check fail.
"""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

FLOAT_ATOL = 1e-9


def _cell(v):
    """A hashable, comparable form of one result cell."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.value
    return v


def _orders_rows(sql):
    """True when the statement ends with an ORDER BY outside parentheses."""
    depth, last = 0, -1
    low = sql.lower()
    for i, ch in enumerate(low):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith("order by", i):
            last = i
    return last >= 0


def _sort_key(row):
    return tuple((0, "") if v is None else
                 (1, round(v, 6)) if isinstance(v, float) else (2, repr(v))
                 for v in row)


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= FLOAT_ATOL
        except (TypeError, ValueError):
            return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_frames(got, exp, ordered):
    """None when equal, else a one-line reason."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns differ: got {gc} expected {ec}"
    if len(got) != len(exp):
        return f"rows: got {len(got)} expected {len(exp)}"
    g = [tuple(_cell(v) for v in r) for r in got[gc].itertuples(index=False)]
    e = [tuple(_cell(v) for v in r) for r in exp[gc].itertuples(index=False)]
    if not ordered:
        g.sort(key=_sort_key)
        e.sort(key=_sort_key)
    for i, (x, y) in enumerate(zip(g, e)):
        for c, a, b in zip(gc, x, y):
            if not _same(a, b):
                return f"row {i} column {c}: got {a!r} expected {b!r}"
    return None


def _corrupt(df):
    """Change one cell of the first row, or add a row to an empty frame."""
    df = df.copy()
    if len(df) == 0:
        return pd.DataFrame([{c: 1 for c in df.columns}])
    col = df.columns[-1]
    v = df.iloc[0][col]
    df[col] = df[col].astype(object)
    df.iat[0, df.columns.get_loc(col)] = (
        None if v is None else v + 1 if isinstance(v, (int, float, np.number))
        else ("x" + v if isinstance(v, str) else None))
    return df


def batch_results(data_dir, out_dir, rounds, queries, oracle_sql, failed, mutate=False):
    """Check every (round, query) result that did not fail. Returns a list
    of (round, query, reason) for the ones that differ from the oracle."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for q in queries:
        sql = oracle_sql.get(q)
        expected = None
        for r in range(1, rounds + 1):
            if (r, q) in failed:
                continue
            if sql is None:
                bad.append((r, q, "no oracle SQL"))
                continue
            if expected is None:
                expected = con.execute(sql).fetchdf()
            files = sorted(glob.glob(os.path.join(out_dir, f"r{r}", q, "*.parquet")))
            got = (pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                   if files else expected.iloc[0:0])
            if mutate and r == 1:
                got = _corrupt(got)
            why = compare_frames(got, expected, _orders_rows(sql))
            if why:
                bad.append((r, q, why))
    return bad


class GeneratorFault(Exception):
    """The generated stream does not separate late from on-time rows."""


def stream_results(raw_dir, out_dir, topic_dir, new_rows, window_ms, accepted,
                   state_rows, subscriptions, failed, mutate=False):
    """Check the topic-stream outputs. Returns (per_append, final): the
    appends whose own checks failed as {index: [reasons]}, and the reasons of
    the checks over the final state (which concern every append).
    Expected values come from the raw batches: the producer's `ord` is the
    sequence id and the offset the produce path must assign."""
    con = duckdb.connect()
    lag = 2 * window_ms
    con.execute(f"CREATE VIEW topic AS SELECT * FROM read_parquet('{topic_dir}/*.parquet')")
    con.execute(f"CREATE VIEW raw AS SELECT *, CAST(regexp_extract(filename, 'b(\\d+)\\.parquet', 1) "
                f"AS BIGINT) AS g FROM read_parquet('{raw_dir}/b*.parquet', filename=true)")
    per_append, final = {}, []

    # 1. every append accepts exactly the rows it had not sent before, and
    #    the topic holds each (producer, sequence) of the raw batches once.
    want = dict(con.execute(
        "SELECT g, count(*) FILTER (WHERE ord >= g * ?) FROM raw GROUP BY g",
        [new_rows]).fetchall())
    acc = list(accepted)  # None where the append threw
    if mutate and acc and acc[0] is not None:
        acc[0] += 1
    for g, n in enumerate(acc):
        if g not in failed and n is not None and n != want.get(g):
            per_append.setdefault(g, []).append(f"accepted {n} rows, expected {want.get(g)}")
    con.execute("CREATE VIEW sent AS SELECT DISTINCT ord, key, value, event_ms FROM raw")
    topic = con.execute("SELECT producer_name, sequence_id, key, value, event_ms "
                        "FROM topic").fetchdf()
    if mutate:
        topic = pd.concat([topic, topic.iloc[:1]], ignore_index=True)
    sent = con.execute("SELECT 'p0' AS producer_name, ord AS sequence_id, key, value, "
                       "event_ms FROM sent").fetchdf()
    why = compare_frames(topic, sent, ordered=False)
    if why:
        final.append(f"topic: {why}")

    # 2. the TableView is the latest value per key (the producer's order
    #    is the topic's offset order)
    got = _tsv(os.path.join(out_dir, "tableview.tsv"),
               ["key", "value", "publish_ms", "msg_offset"])[["key", "value", "msg_offset"]]
    exp = con.execute("SELECT key, arg_max(value, ord) AS value, max(ord) AS msg_offset "
                      "FROM sent GROUP BY key").fetchdf()
    why = compare_frames(_corrupt(got) if mutate else got, exp, ordered=False)
    if why:
        final.append(f"tableview: {why}")

    # 3. the keyed counters hold the message count per key
    got = _tsv(os.path.join(out_dir, "counters.tsv"), ["key", "n"])
    exp = con.execute("SELECT key, count(*) AS n FROM sent GROUP BY key").fetchdf()
    why = compare_frames(_corrupt(got) if mutate else got, exp, ordered=False)
    if why:
        final.append(f"counters: {why}")

    # 4. window counts equal a GROUP BY over the rows that are not late.
    #    A row of append k is late when its window ends at or below the
    #    watermark, max(event time of appends <= k-1) - lag, which the
    #    stream holds once append k-1 has been drained. The generator keeps
    #    every row clear of the watermarks append k could add, so the
    #    verdict does not depend on how micro-batches were cut.
    con.execute(f"""CREATE VIEW rows AS
      SELECT ord // {new_rows} AS k, key, event_ms, value,
             (event_ms // {window_ms}) * {window_ms} AS w FROM sent""")
    con.execute("""CREATE VIEW hi AS
      SELECT k, max(max(event_ms)) OVER (ORDER BY k) AS upto FROM rows GROUP BY k""")
    con.execute(f"""CREATE VIEW judged AS
      SELECT r.*, r.w + {window_ms} AS w_end,
             (SELECT upto FROM hi WHERE hi.k = r.k - 1) - {lag} AS wm_early,
             (SELECT upto FROM hi WHERE hi.k = r.k) - {lag} AS wm_late
      FROM rows r""")
    unclear = con.execute("""SELECT count(*) FROM (SELECT
        coalesce(w_end <= wm_early, false) AS a, coalesce(w_end <= wm_late, false) AS b,
        coalesce(event_ms < wm_early, false) AS c, coalesce(event_ms < wm_late, false) AS d
        FROM judged) WHERE NOT (a = b AND b = c AND c = d)""").fetchone()[0]
    if unclear:
        raise GeneratorFault(f"{unclear} rows are neither clearly late nor on time")
    got = _tsv(os.path.join(out_dir, "windows.tsv"), ["window_start_ms", "n", "sum_v"])
    exp = con.execute("""SELECT w AS window_start_ms, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS sum_v
        FROM judged WHERE NOT coalesce(w_end <= wm_early, false) GROUP BY w""").fetchdf()
    why = compare_frames(_corrupt(got) if mutate else got, exp, ordered=False)
    if why:
        final.append(f"windows: {why}")

    # 5. after each append, no stateful operator holds more state rows than
    #    there are distinct keys it still has to hold: the keys seen so far,
    #    and for the windows the on-time windows whose end is above the
    #    watermark. processAllAvailable() returns only after the no-data
    #    batch that evicts under the new watermark, max(event time of
    #    appends <= g) - lag, has run.
    wm = dict(con.execute(f"SELECT k, upto - {lag} FROM hi").fetchall())
    by_k = {}
    for k, key in con.execute("SELECT k, key FROM rows").fetchall():
        by_k.setdefault(k, set()).add(key)
    win_rows = con.execute(
        "SELECT k, w FROM judged WHERE NOT coalesce(w_end <= wm_early, false)").fetchall()
    win_by_k = {}
    for k, w in win_rows:
        win_by_k.setdefault(k, set()).add(w)
    acc_keys, acc_w = set(), set()
    rows = [None if r is None else list(r) for r in state_rows]  # None where the append threw
    for g, counts in enumerate(rows):
        acc_keys |= by_k.get(g, set())
        acc_w |= win_by_k.get(g, set())
        if counts is None or g in failed:
            continue
        live_w = sum(1 for w in acc_w if w + window_ms > wm[g])
        bound = {"tableview": len(acc_keys), "counters": len(acc_keys), "windows": live_w}
        if mutate and g == len(rows) - 1:
            # an operator that keeps more rows than keys, and a window
            # operator that never evicts
            counts[subscriptions.index("tableview")] += 10 ** 9
            counts[subscriptions.index("windows")] = len(acc_w)
        for name, n in zip(subscriptions, counts):
            if n > bound[name]:
                per_append.setdefault(g, []).append(
                    f"{name} holds {n} state rows, more than the {bound[name]} it must keep")
    return per_append, final


def _tsv(path, cols):
    if not os.path.exists(path) or os.path.getsize(path) == 0:
        return pd.DataFrame({c: [] for c in cols})
    return pd.read_csv(path, sep="\t", header=None, names=cols, keep_default_na=False)
