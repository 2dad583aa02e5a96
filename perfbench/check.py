"""Correctness checks, computed apart from the program.

- The pipeline's warehouse is compared with the generator's own records.
- Each query result is compared with DuckDB running the query's
  SparkEntry.oracleSql over the same parquet tables, canonicalised as
  tools/oracle_check.py does; every timed round's row count must equal
  the oracle's.

Each function returns a list of failure messages; empty means correct.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _iso_ms(ts):
    ts = pd.Timestamp(ts)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _round2(ms):
    q = decimal.Decimal(int(ms)) / 1000
    return float(q.quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))


def _names_used(joined, names):
    """The distinct names of `names` that `joined` lists, ", "-separated.
    Names may themselves contain ", ", so the string is parsed against the
    known names; None when it cannot be parsed."""
    if joined is None:
        return None
    todo, seen = [(0, frozenset())], set()
    while todo:
        pos, used = todo.pop()
        for n in names:
            if joined.startswith(n, pos):
                end = pos + len(n)
                if end == len(joined):
                    return set(used | {n})
                if joined.startswith(", ", end) and (end + 2, used | {n}) not in seen:
                    seen.add((end + 2, used | {n}))
                    todo.append((end + 2, used | {n}))
    return None


def check_pipeline(root, rec):
    bad = []
    wh = os.path.join(root, "warehouse")
    pb = _read(os.path.join(wh, "playback_hist"))
    if pb.empty:
        return [f"{root}: warehouse playback_hist is empty"]
    pairs = [(_iso_ms(p), t) for p, t in zip(pb["played_at"], pb["track_id"])]
    want = [tuple(x) for x in rec["plays"]]
    if len(pairs) != len(set(pairs)):
        bad.append(f"{root}: playback_hist has {len(pairs) - len(set(pairs))} duplicate plays")
    if set(pairs) != set(want):
        bad.append(f"{root}: playback_hist plays differ: {len(set(pairs) - set(want))} "
                   f"unexpected, {len(set(want) - set(pairs))} missing")
    if int(pb["duration_ms"].sum()) != rec["duration_ms_sum"]:
        bad.append(f"{root}: duration_ms sum {int(pb['duration_ms'].sum())} "
                   f"!= {rec['duration_ms_sum']}")
    wrong_s = sum(float(s) != _round2(ms) for ms, s in zip(pb["duration_ms"], pb["duration_s"]))
    if wrong_s:
        bad.append(f"{root}: {wrong_s} rows with duration_s != round(duration_ms/1000, 2)")
    albums = _read(os.path.join(wh, "albums"))
    artists = _read(os.path.join(wh, "artists"))
    for name, df in (("playback_hist", pb), ("albums", albums)):
        for aid, date in zip(df["album_id"], df["album_release_date"]):
            year = rec["bare_year_albums"].get(aid)
            if year is not None and pd.Timestamp(date).date() != datetime.date(year, 12, 31):
                bad.append(f"{root}: {name} bare-year album {aid} reads {date}")
                break
    wrong_artists = sum(_names_used(names, rec["track_artists"][tid]) != set(rec["track_artists"][tid])
                        for tid, names in zip(pb["track_id"], pb["artist_names"]))
    if wrong_artists:
        bad.append(f"{root}: {wrong_artists} plays whose artist_names differ from the track's artists")
    if sorted(set(albums["album_id"])) != rec["album_ids"]:
        bad.append(f"{root}: warehouse album ids differ from the generated set")
    if sorted(set(artists["artist_id"])) != rec["artist_ids"]:
        bad.append(f"{root}: warehouse artist ids differ from the generated set")
    return bad


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(9)
        df[c] = col.astype(str)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _oracle(con, data_dir, sql, cache_dir):
    """DuckDB's result for `sql`, cached by the SQL text and the tables'
    sizes and mtimes: the oracle depends on nothing else."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(f"{data_dir}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _duckdb(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_queries(data_dir, out_dir, rounds, cache_dir):
    """Compares the warm-up outputs with DuckDB and every timed round's row
    count with the oracle's. Returns (failure messages, names of failed
    queries)."""
    con = _duckdb(data_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad, failed = [], set()
    for name, sql in sorted(oracle.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            exp = _oracle(con, data_dir, sql, cache_dir)
            got = _read(os.path.join(out_dir, name))
            g, e = _canon(got), _canon(exp)
            if list(g.columns) != list(e.columns):
                raise ValueError(f"columns {list(g.columns)} vs oracle {list(e.columns)}")
            if not g.equals(e):
                raise ValueError(f"values differ (rows {len(g)} vs oracle {len(e)})")
            counts = {r["rows"][name] for r in rounds}
            if counts != {len(e)}:
                raise ValueError(f"timed row counts {sorted(counts)} vs oracle {len(e)}")
        except Exception as ex:  # any failure of one query is that query's failure
            bad.append(f"{name}: {ex}")
            failed.add(name)
    return bad, failed
