"""Output checks: every op's result against an independent DuckDB reference.

Each check compares a row count and an order-independent hash (the sum of a
per-row hash of a canonical row). Both sides are canonicalised by the same
code, so a mismatch means the engine's rows differ from the reference's.
Each function returns {op_name: error string or None}.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

# A file set as (file name, line) rows: one unquoted column per line.
LINES = ("(SELECT regexp_extract(filename, '[^/]+$') AS uri, line FROM "
         "read_csv('{glob}', columns={{'line': 'VARCHAR'}}, delim='\\t', quote='', "
         "escape='', header=false, auto_detect=false, filename=true))")


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _digest(con, sql, canon):
    """(rows, hash-sum) of `sql`, each row canonicalised by `canon`."""
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({canon})), 0) FROM ({sql})"
    ).fetchone()


def _compare(con, engine_sql, ref_sql, canon, key=None, real=None, want=None):
    """Digests must match (`want` is the reference's, if already computed).
    A floating-point column `real` is left out of the hash (two engines may
    differ in its last bit, and averages of decimal data sit on rounding
    ties) and compared to 1e-9 relative instead, rows joined on `key`."""
    try:
        got = _digest(con, engine_sql, canon)
        want = want or _digest(con, ref_sql, canon)
        if got != want:
            return f"rows/hash {got[0]}/{got[1]} != reference {want[0]}/{want[1]}"
        if real:
            bad = con.execute(
                f"SELECT count(*) FROM ({engine_sql}) e FULL JOIN ({ref_sql}) r "
                f"USING ({key}) WHERE e.{real} IS NULL OR r.{real} IS NULL OR "
                f"abs(e.{real} - r.{real}) > 1e-9 * greatest(1, abs(r.{real}))"
            ).fetchone()[0]
            if bad:
                return f"{bad} rows differ in {real} beyond 1e-9"
    except Exception as e:  # a missing or unreadable output is a failure
        return f"{type(e).__name__}: {str(e).splitlines()[0]}"
    return None


def _ts(col):
    """Epoch seconds of a Spark-written ISO timestamp string."""
    return f"epoch(CAST(substr({col}, 1, 19) AS TIMESTAMP))::BIGINT"


def _csv(path, columns):
    cols = ", ".join(f"'{k}': '{v}'" for k, v in columns)
    return (f"read_csv('{path}/*.csv', header=true, auto_detect=false, "
            f"columns={{{cols}}})")


def _json(path, columns):
    cols = ", ".join(f"'{k}': '{v}'" for k, v in columns)
    return (f"read_json('{path}/*.json', format='newline_delimited', "
            f"columns={{{cols}}})")


def beam_batch(inputs, outs, p):
    """Recomputes the eight pipelines in DuckDB over the generated inputs and
    compares them with what the engine wrote under each directory of `outs`
    (one per timed pass). Returns {name#pass: error or None}."""
    con = _connect()
    lines = {}
    for d in ("corpus", "docs", "game", "traffic", "wiki"):
        con.execute(f"CREATE TABLE in_{d} AS SELECT * FROM "
                    + LINES.format(glob=f"{inputs}/{d}/*"))
        lines[d] = f"in_{d}"
    con.execute(f"CREATE TABLE cased AS SELECT w AS word, count(*) AS n FROM "
                f"(SELECT unnest(regexp_split_to_array(line, '[^A-Za-z]+')) AS w "
                f"FROM {lines['corpus']}) WHERE w <> '' GROUP BY w")
    cased = "SELECT * FROM cased"
    game = (f"SELECT trim(f[1]) AS usr, trim(f[2]) AS team, "
            f"TRY_CAST(f[3] AS INTEGER) AS score, TRY_CAST(f[4] AS BIGINT) AS ms "
            f"FROM (SELECT string_split(line, ',') AS f FROM {lines['game']})")
    game = (f"SELECT * FROM ({game}) WHERE score IS NOT NULL AND ms IS NOT NULL "
            f"AND length(usr) > 0")
    start = con.execute(f"SELECT epoch(TIMESTAMP '{p['hourly_start']}')").fetchone()[0]
    stop = con.execute(f"SELECT epoch(TIMESTAMP '{p['hourly_stop']}')").fetchone()[0]
    win, slide = p["traffic_window_s"], p["traffic_slide_s"]
    con.execute(f"CREATE TABLE traffic AS SELECT string_split(line, ',') AS f "
                f"FROM {lines['traffic']}")
    traffic = "SELECT * FROM traffic"
    lanes = " UNION ALL ".join(
        f"SELECT epoch(try_strptime(f[1], '%m/%d/%Y %H:%M:%S'))::BIGINT AS ts, "
        f"f[2] AS station, {i} AS lane, TRY_CAST(f[{7 + 5 * i}] AS INTEGER) AS flow, "
        f"TRY_CAST(f[{8 + 5 * i}] AS DOUBLE) AS occ, "
        f"TRY_CAST(f[{9 + 5 * i}] AS DOUBLE) AS speed FROM traffic "
        f"WHERE len(f) >= 48" for i in range(1, 9))
    lanes = (f"SELECT * FROM ({lanes}) WHERE ts IS NOT NULL AND flow IS NOT NULL "
             f"AND occ IS NOT NULL AND speed IS NOT NULL")

    def sliding(src):  # every window of `win` seconds sliding by `slide`
        return (f"SELECT * FROM (SELECT *, (ts // {slide}) * {slide} - k * {slide} "
                f"AS w_start FROM {src}, range(0, {win // slide}) AS r(k)) "
                f"WHERE w_start <= ts AND ts < w_start + {win}")

    speeds = (f"SELECT epoch(try_strptime(f[1], '%m/%d/%Y %H:%M:%S'))::BIGINT AS ts, "
              f"f[2] AS station, f[5] AS kind, TRY_CAST(f[10] AS DOUBLE) AS avg_speed "
              f"FROM traffic")
    route = ("CASE station WHEN '1108413' THEN 'SDRoute1' WHEN '1108699' THEN "
             "'SDRoute2' WHEN '1108702' THEN 'SDRoute2' END")
    speeds = (f"SELECT ts, station, avg_speed, {route} AS route FROM ({speeds}) "
              f"WHERE ts IS NOT NULL AND kind = 'ML' AND avg_speed IS NOT NULL "
              f"AND {route} IS NOT NULL")
    wiki = (f"SELECT CASE WHEN json_valid(line) THEN json_extract_string(line, "
            f"'$.contributor_username') END AS u, CASE WHEN json_valid(line) THEN "
            f"TRY_CAST(json_extract(line, '$.timestamp') AS BIGINT) END AS ts "
            f"FROM {lines['wiki']}")
    wiki = f"SELECT * FROM ({wiki}) WHERE u IS NOT NULL AND ts IS NOT NULL"
    gap = p["wiki_gap_s"]
    sessions = (f"SELECT u, min(ts) AS s_start, count(*) AS len FROM (SELECT u, ts, "
                f"sum(CASE WHEN prev IS NULL OR ts - prev >= {gap} THEN 1 ELSE 0 END) "
                f"OVER (PARTITION BY u ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
                f"FROM (SELECT u, ts, lag(ts) OVER (PARTITION BY u ORDER BY ts) AS prev "
                f"FROM ({wiki}))) GROUP BY u, sid")
    sessions = (f"SELECT u, s_start, len, epoch(date_trunc('month', TIMESTAMP "
                f"'1970-01-01' + to_seconds(s_start)))::BIGINT AS month "
                f"FROM ({sessions})")
    k, plen = p["autocomplete_k"], p["autocomplete_prefix"]

    def checks(out):
        return {
            "wordcount": (
                f"SELECT split_part(line, ': ', 1) AS word, "
                f"CAST(split_part(line, ': ', 2) AS BIGINT) AS n "
                f"FROM {LINES.format(glob=out + '/wordcount/*.txt')}",
                cased, "word || ':' || n"),
            "tfidf": (
                f"SELECT regexp_extract(uri, '[^/]+$') AS uri, word, tfidf FROM "
                + _csv(out + "/tfidf", [("uri", "VARCHAR"), ("word", "VARCHAR"),
                                        ("tfidf", "DOUBLE")]),
                f"WITH toks AS (SELECT uri, unnest(regexp_split_to_array(lower(line), "
                f"'[^a-z]+')) AS w FROM {lines['docs']}), "
                f"c AS (SELECT uri, w, count(*) AS n FROM toks WHERE w <> '' GROUP BY 1, 2), "
                f"t AS (SELECT uri, sum(n) AS total FROM c GROUP BY uri), "
                f"d AS (SELECT w, count(*) AS df FROM c GROUP BY w), "
                f"nd AS (SELECT count(DISTINCT uri) AS n_docs FROM {lines['docs']}) "
                f"SELECT uri, w AS word, (n / total) * ln(n_docs / df) AS tfidf "
                f"FROM c JOIN t USING (uri) JOIN d USING (w), nd",
                "uri || ':' || word", "uri, word", "tfidf"),
            "autocomplete": (
                "SELECT * FROM " + _json(out + "/autocomplete", [
                    ("prefix", "VARCHAR"), ("word", "VARCHAR"), ("n", "BIGINT"),
                    ("rank", "INTEGER")]),
                f"SELECT * FROM (SELECT prefix, word, n, row_number() OVER (PARTITION BY "
                f"prefix ORDER BY n DESC, word DESC) AS rank FROM (SELECT "
                f"substr(word, 1, l) AS prefix, word, n FROM ({cased}), "
                f"range(1, {plen} + 1) AS r(l) WHERE l <= length(word))) "
                f"WHERE rank <= {k}",
                "prefix || ':' || word || ':' || n || ':' || rank"),
            "userscore": (
                "SELECT * FROM " + _csv(out + "/userscore", [
                    ("user", "VARCHAR"), ("total_score", "BIGINT")]),
                f"SELECT usr AS \"user\", sum(score) AS total_score FROM ({game}) GROUP BY usr",
                "\"user\" || ':' || total_score"),
            "hourlyteamscore": (
                f"SELECT {_ts('w_start')} AS w, team, total_score FROM "
                + _csv(out + "/hourlyteamscore", [
                    ("w_start", "VARCHAR"), ("team", "VARCHAR"),
                    ("total_score", "BIGINT")]),
                f"SELECT (ms // 3600000) * 3600 AS w, team, sum(score) AS total_score "
                f"FROM ({game}) WHERE ms >= {start * 1000} AND ms < {stop * 1000} "
                f"GROUP BY 1, 2",
                "w || ':' || team || ':' || total_score"),
            "trafficmaxlaneflow": (
                f"SELECT {_ts('w_start')} AS w_start, station, lane, flow, "
                f"{_ts('reading_ts')} AS ts FROM "
                + _csv(out + "/trafficmaxlaneflow", [
                    ("w_start", "VARCHAR"), ("station", "VARCHAR"), ("lane", "VARCHAR"),
                    ("flow", "INTEGER"), ("reading_ts", "VARCHAR")]),
                # arg-max by (flow, time, lane) as one packed integer key
                f"SELECT w_start, station, 'lane ' || (m % 16) AS lane, m // {1 << 40} "
                f"AS flow, (m // 16) % {1 << 36} AS ts FROM (SELECT w_start, station, "
                f"max(flow * {1 << 40} + ts * 16 + lane) AS m FROM "
                f"({sliding('(' + lanes + ')')}) GROUP BY 1, 2)",
                "w_start || ':' || station || ':' || lane || ':' || flow || ':' || ts"),
            "trafficroutes": (
                f"SELECT {_ts('w_start')} AS w_start, route, avg_speed, slowdown_event FROM "
                + _csv(out + "/trafficroutes", [
                    ("w_start", "VARCHAR"), ("route", "VARCHAR"),
                    ("avg_speed", "DOUBLE"), ("slowdown_event", "BOOLEAN")]),
                f"SELECT w_start, route, avg(avg_speed) AS avg_speed, "
                f"sum(CASE WHEN rn > 1 AND NOT first_speed < avg_speed THEN 1 ELSE 0 END) "
                f">= 2 * sum(CASE WHEN rn > 1 AND first_speed < avg_speed THEN 1 ELSE 0 END) "
                f"AS slowdown_event FROM (SELECT *, row_number() OVER w AS rn, "
                f"first_value(avg_speed) OVER w AS first_speed FROM "
                f"({sliding('(' + speeds + ')')}) WINDOW w AS (PARTITION BY w_start, "
                f"route, station ORDER BY ts, avg_speed)) GROUP BY w_start, route",
                "w_start || ':' || route || ':' || slowdown_event", "w_start, route",
                "avg_speed"),
            "topwikipediasessions": (
                f"SELECT user_id AS u, {_ts('s_start')} AS s_start, session_len AS len, "
                f"{_ts('month')} AS month, rank FROM "
                + _json(out + "/topwikipediasessions", [
                    ("user_id", "VARCHAR"), ("s_start", "VARCHAR"),
                    ("session_len", "BIGINT"), ("month", "VARCHAR"),
                    ("rank", "INTEGER")]),
                f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY month ORDER BY "
                f"len DESC, u DESC) AS rank FROM ({sessions})) WHERE rank = 1",
                # a month's top session can tie on (length, user); its start
                # is then arbitrary in both engines, so it is left out
                "u || ':' || len || ':' || month || ':' || rank"),
        }

    def reference(spec):  # once for all passes; a failure shows per pass
        try:
            return _digest(con, spec[1], spec[2])
        except Exception:
            return None

    refs = {name: reference(spec) for name, spec in checks(outs[0]).items()}
    return {f"{name}#{i}": _compare(con, *spec, want=refs[name])
            for i, out in enumerate(outs) for name, spec in checks(out).items()}


# ----------------------------------------------------------- registry-mix ---

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    """Columns sorted by name, values in one canonical form per type (the
    repo's oracle_check convention)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df


def frame_digest(df):
    df = _canon(df)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return [list(df.columns), len(df), int(h.sum(dtype=np.uint64))]


def oracle_digests(sf_dir, oracle, cache_path):
    """DuckDB's digest per query over `sf_dir`, cached by SQL text (the
    tables are read-only, so a digest never goes stale)."""
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    con = None
    out = {}
    for q, sql in oracle.items():
        key = f"{sf_dir}|{sql}"
        if key not in cache:
            if con is None:
                con = _connect()
                for t in TABLES:
                    p = f"{sf_dir}/{t}.parquet"
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            try:
                cache[key] = frame_digest(con.execute(sql).df())
            except Exception as e:
                cache[key] = f"oracle error: {type(e).__name__}: {e}"
        out[q] = cache[key]
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return out


def registry(sf_dir, out_dir, queries, oracle, cache_path, engine_errors):
    """Each query's engine result under `out_dir` must match DuckDB running
    its `SparkEntry.oracleSql` over the tables in `sf_dir`."""
    want = oracle_digests(sf_dir, {q: oracle[q] for q in queries}, cache_path)
    res = {}
    for q in queries:
        if q in engine_errors:
            res[q] = engine_errors[q]
            continue
        try:
            parts = sorted(glob.glob(f"{out_dir}/{q}/*.parquet"))
            got = frame_digest(pd.concat([pd.read_parquet(f) for f in parts],
                                         ignore_index=True))
        except Exception as e:
            res[q] = f"{type(e).__name__}: {e}"
            continue
        res[q] = None if got == want[q] else f"engine {got} != oracle {want[q]}"
    return res


# ------------------------------------------------------ LeaderBoard stream ---

def stream(src_dir, result, meta):
    """Batch recompute of every event the stream read, under the same
    lateness rule: an event is dropped iff its time is below the largest
    event time of the earlier files minus the allowed lateness. Compares the
    final user totals and the closed team windows."""
    s = meta["sizes"]
    win, lat = s["window_s"] * 1000, s["lateness_s"] * 1000
    con = _connect()
    con.execute(
        f"CREATE TABLE ev AS SELECT CAST(regexp_extract(filename, "
        f"'ev-([0-9]+)', 1) AS BIGINT) AS file, * FROM read_csv('{src_dir}/ev-*.csv', "
        f"header=false, auto_detect=false, filename=true, columns={{'ts_ms': 'BIGINT', "
        f"'user_id': 'VARCHAR', 'team': 'VARCHAR', 'value': 'BIGINT'}})")
    con.execute(
        "CREATE TABLE ev2 AS SELECT ev.*, ts_ms < coalesce(prev_max, -9e18) - "
        f"{lat} AS late FROM ev JOIN (SELECT file, max(max(ts_ms)) OVER (ORDER BY "
        "file ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max "
        "FROM ev GROUP BY file) USING (file)")
    st = result["stream"]
    errors = {}
    late = con.execute("SELECT count(*) FROM ev2 WHERE late").fetchone()[0]
    planned = meta["backlog_late"] + meta["live_late"]
    if not (late == planned == st["dropped_late"]):
        errors["dropped_late"] = (f"engine dropped {st['dropped_late']}, recompute "
                                  f"{late}, generator planned {planned}")
    wm = meta["max_event_ms"] - lat
    if st["final_watermark_ms"] != wm:
        errors["watermark"] = f"final watermark {st['final_watermark_ms']} != {wm}"
    users = dict(con.execute(
        "SELECT user_id, sum(value) FROM ev2 GROUP BY 1").fetchall())
    if users != st["users"]:
        errors["user_totals"] = (f"{len(st['users'])} users emitted, "
                                 f"{len(users)} expected, values differ")
    teams = {f"{w}|{t}": v for w, t, v in con.execute(
        f"SELECT (ts_ms // {win}) * {win} AS w, team, sum(value) FROM ev2 "
        f"WHERE NOT late GROUP BY 1, 2 HAVING w + {win} <= {wm}").fetchall()}
    if teams != st["teams"]:
        errors["team_windows"] = (f"{len(st['teams'])} windows emitted, "
                                  f"{len(teams)} expected closed, values differ")
    return errors
