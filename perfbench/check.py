"""Output checks. Each check compares one output of the run against a
result computed without the code under test: the generators' truth, or
DuckDB over the same inputs and the program's own parquet. Every check
returns (name, ok, detail); a failed check counts as a failed operation.
"""
import datetime as dt
import glob
import json
import math
import os
import re

import duckdb

import gen


def _con(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _oracle(oracles, name):
    """The registry's oracle SQL with its shared CTEs marked MATERIALIZED:
    DuckDB otherwise re-evaluates them in every step of the recursive
    connected-components CTE. The results are unchanged."""
    return re.sub(r"\b(p|prs|edges|keptf|sig|chunked) AS \(", r"\1 AS MATERIALIZED (",
                  oracles[name])


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=2e-6)
    return a == b


def _same_rows(got, want, ordered=False):
    """Compare two lists of row tuples cell by cell. Floats may differ by
    2e-6: both engines round some answers to 6 decimals after summing in
    different orders, which can land one unit apart.
    Returns None when equal, else a short description of the first miss."""
    if not ordered:
        key = lambda r: tuple("" if v is None else str(v) for v in r)
        got, want = sorted(got, key=key), sorted(want, key=key)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return f"row {i}: got {list(g)}, expected {list(w)}"
    return None


def _cell(x):
    """Timestamps and dates from either side as 'YYYY-MM-DD HH:MM:SS' UTC;
    the JVM writes instants as ISO strings ending in Z."""
    if isinstance(x, str) and len(x) >= 20 and x[10] == "T" and x.endswith("Z"):
        x = dt.datetime.fromisoformat(x[:-1])
    if isinstance(x, dt.datetime):
        if x.tzinfo is not None:
            x = x.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return x.isoformat(" ")
    if isinstance(x, dt.date):
        return dt.datetime(x.year, x.month, x.day).isoformat(" ")
    return x


def _cells(rows):
    return [tuple(_cell(x) for x in r) for r in rows]


# ── habits_daily ──────────────────────────────────────────────────────────

def check_habits(res, seed, work):
    con = _con(work)
    store = res["store"]
    checks = []
    truth, _ = gen.sheet_truth(seed, res["ingests"])
    rows = con.execute(
        f"SELECT user_email, habit, ts, value, notes FROM {_parquet(store)}").fetchall()
    got = {(u, h, ts.replace(tzinfo=None)): (v, n) for u, h, ts, v, n in rows}
    bad = [k for k in set(truth) | set(got) if got.get(k) != truth.get(k)]
    checks.append(("store_keys_unique", len(rows) == len(got),
                   f"{len(rows) - len(got)} duplicate keys"))
    first = min(bad, key=str) if bad else None
    checks.append(("store_vs_truth", not bad, f"{len(bad)} of {len(truth)} events differ"
                   + (f", e.g. {first}: got {got.get(first)}, expected {truth.get(first)}"
                      if bad else "")))

    # rollup state vs the truth events grouped by UTC day
    want = {}
    for (u, h, ts), (v, _) in truth.items():
        day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        s = want.setdefault((day, u, h), [0, 0.0, 0, None])
        s[0] += v >= 1
        s[1] += v
        s[2] += 1
        if h == "meditation_minutes":
            s[3] = (s[3] or 0.0) + v
    got = {(d.replace(tzinfo=None), u, h): [c, sv, n, m] for d, u, h, c, sv, n, m in con.execute(
        f"SELECT day, user_email, habit, count_done, sum_value, n_value, sum_meditation "
        f"FROM {_parquet(res['rollup'])}").fetchall()}
    bad = [k for k in set(want) | set(got)
           if k not in want or k not in got
           or not all(_close(a, b) for a, b in zip(got[k], want[k]))]
    checks.append(("rollup_vs_truth", not bad, f"{len(bad)} of {len(want)} rollup rows differ"))

    # the panels answered after the final ingest, against DuckDB over the
    # store's parquet
    ev = f"(SELECT * FROM {_parquet(store)})"
    for name, p in res["panels_last"].items():
        u, f14, f7, to, anchor = p["user"], p["from14"], p["from7"], p["to"], p["anchor"]
        sql, ordered = {
        "valueByDay": (f"""SELECT date_trunc('day', ts) AS day, sum(value) FROM {ev}
            WHERE ts >= TIMESTAMP '{f14}' AND ts < TIMESTAMP '{to}'
              AND user_email = '{u}' AND habit = 'meditation_minutes'
            GROUP BY 1 ORDER BY 1""", True),
        "completionPct": (f"""SELECT habit, 100.0 * sum(CASE WHEN value >= 1 THEN 1 ELSE 0 END)
              / greatest(count(*), 1) FROM {ev}
            WHERE ts >= TIMESTAMP '{f7}' AND ts < TIMESTAMP '{to}'
              AND user_email = '{u}' AND habit IN ('workout', 'skin_care')
            GROUP BY habit ORDER BY habit""", True),
        "distinctHabits": (f"SELECT DISTINCT habit FROM {ev} ORDER BY 1", True),
        "distinctUsers": (f"SELECT DISTINCT user_email FROM {ev} ORDER BY 1", True),
        "recentEvents": (f"""SELECT {', '.join(p['columns'])}
            FROM {ev} ORDER BY ts DESC, user_email, habit LIMIT 20""", True),
        "rollingDailyAvg": (f"""WITH d AS (SELECT habit, date_trunc('day', ts) AS day,
                sum(value) AS t FROM {ev} WHERE habit IN ('mood_score', 'sleep_hours')
                GROUP BY 1, 2)
            SELECT habit, day, avg(t) OVER (PARTITION BY habit
                ORDER BY datediff('day', DATE '{anchor}', day::DATE)
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) FROM d""", False),
        "streaks": (f"""WITH d AS (SELECT DISTINCT user_email, habit,
                date_trunc('day', ts)::DATE AS day FROM {ev} WHERE value >= 1),
              r AS (SELECT *, day - (row_number() OVER (PARTITION BY user_email, habit
                ORDER BY day))::INT AS anchor FROM d),
              c AS (SELECT user_email, habit, anchor, count(*) AS n FROM r GROUP BY 1, 2, 3)
            SELECT user_email, habit, max(n) FROM c GROUP BY 1, 2""", False),
        "sqlDaily": (f"""WITH d AS (SELECT date_trunc('day', ts) AS day, user_email, habit,
                count(*) FILTER (WHERE value >= 1) AS count_done, avg(value) AS avg_value
                FROM {ev} GROUP BY 1, 2, 3)
            SELECT habit, sum(count_done), round(avg(avg_value), 6) FROM d
            WHERE day >= TIMESTAMP '{f7}' GROUP BY habit ORDER BY habit""", True),
        "sqlEvents": (f"""SELECT user_email, count(*) FROM {ev}
            WHERE habit = 'workout' AND value >= 1 GROUP BY 1 ORDER BY 1""", True),
        }[name]
        got = _cells(p["rows"])
        want = _cells(con.execute(sql).fetchall())
        miss = _same_rows(got, want, ordered)
        checks.append((f"panel.{name}", miss is None, miss or ""))
    return checks


# ── stream_ticks ──────────────────────────────────────────────────────────

def _ticks(inputs, kind, n):
    return [os.path.join(inputs, "ticks", kind, f"tick_{t:04d}.parquet") for t in range(n)]


def _union(files):
    return "(" + " UNION ALL ".join(
        f"SELECT *, {i} AS tick FROM read_parquet('{f}')" for i, f in enumerate(files)) + ")"


def _components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_stream(res, inputs, oracles, work):
    con = _con(work)
    n = res["ticks"]
    checks = []

    # upsert: last writer wins by tick, notes coalesce across ticks
    truth = {}
    rows = con.execute(f"""SELECT 'user' || user_id, event_type, ts, value, props
        FROM {_union(_ticks(inputs, 'upsert', n))} ORDER BY tick""").fetchall()
    for u, h, ts, v, notes in _cells(rows):
        old = truth.get((u, h, ts))
        truth[(u, h, ts)] = (v, notes if notes is not None else (old[1] if old else None))
    got = {(u, h, ts): (v, nt) for u, h, ts, v, nt in _cells(con.execute(
        f"SELECT user_email, habit, ts, value, notes FROM {_parquet(res['upsert_store'])}").fetchall())}
    bad = [k for k in set(truth) | set(got) if got.get(k) != truth.get(k)]
    checks.append(("stream.upsert", not bad, f"{len(bad)} of {len(truth)} keys differ"))

    # rollup: complete-mode daily aggregate vs the batch aggregate of all ticks
    want = con.execute(f"""SELECT date_trunc('day', ts), 'user' || user_id, event_type,
            count(*) FILTER (WHERE value >= 1), round(avg(value), 6),
            sum(value) FILTER (WHERE event_type = 'meditation_minutes')
        FROM {_union(_ticks(inputs, 'rollup', n))} GROUP BY 1, 2, 3""").fetchall()
    got = con.execute(f"""SELECT day, user_email, habit, count_done, round(avg_value, 6),
        sum_meditation FROM {_parquet(res['rollup_daily'])}""").fetchall()
    miss = _same_rows(_cells(got), _cells(want))
    checks.append(("stream.rollup", miss is None, miss or ""))

    # dedup and cluster: the ledgers vs the batch oracles over all ticks
    for kind in ("dedup", "cluster"):
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * EXCLUDE (tick) "
                    f"FROM {_union(_ticks(inputs, kind, n))}")
        pairs = con.execute(_oracle(oracles, "q_dedup_minhash")).fetchall()
        if kind == "dedup":
            got = con.execute(f"""SELECT id_a, id_b, round(jaccard, 6)
                FROM {_parquet(res['dedup_pairs'])}""").fetchall()
            miss = _same_rows(got, pairs)
        else:
            want = sorted(_components((a, b) for a, b, _ in pairs).items())
            got = con.execute(f"SELECT id, cluster_id FROM read_parquet('{res['cluster_labels']}/*.parquet')").fetchall()
            miss = _same_rows(got, want)
        checks.append((f"stream.{kind}", miss is None, miss or ""))

    # cms: the merged sketch never under-counts and over-counts by at most eps*N
    counts = dict(con.execute(f"""SELECT event_type, count(*) FROM
        {_union(_ticks(inputs, 'cms', n))} GROUP BY 1""").fetchall())
    total = sum(counts.values())
    est = res["cms_estimates"]
    bad = [v for v in est if not counts.get(v, 0) <= est[v] <= counts.get(v, 0) + 0.001 * total]
    checks.append(("stream.cms", not bad and res["cms_total"] == total,
                   f"{len(bad)} estimates out of bounds, total {res['cms_total']} vs {total}"))
    return checks


# ── corpus_batch ──────────────────────────────────────────────────────────

KERNEL_ORACLES = {"curate": "q_curation", "langIdNgramLocal": "q_lang_id_ngram",
                  "htmlBlocksLocal": "q_html_blocks", "minhashDupPairs": "q_dedup_minhash",
                  "dupClusters": "q_cluster_incremental", "knnIvf": "q_knn_ivf"}


def check_corpus(res, inputs, oracles, work):
    con = _con(work)
    corpus = os.path.join(inputs, "corpus")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus}/documents.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{corpus}/embeddings.parquet')")
    checks = []
    passes = sorted(glob.glob(os.path.join(res["out"], "p*")))
    for name, q in KERNEL_ORACLES.items():
        rel = con.execute(_oracle(oracles, q))
        cols = [d[0] for d in rel.description]
        want = [tuple(r) for r in rel.fetchall()]
        for p in passes:
            d = os.path.join(p, name)
            if not os.path.isdir(d):
                continue
            got = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{d}/*.parquet')").fetchall()
            miss = _same_rows(got, want)
            checks.append((f"kernel.{name}.{os.path.basename(p)}", miss is None, miss or ""))
    return checks


def load_oracles(path):
    with open(path) as f:
        return json.load(f)
