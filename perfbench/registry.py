"""Inputs and oracle check for the traced run's registry slice.

`make_tables` writes seeded `events` and `documents` parquet tables with
the column types of the registry's test tables. `check` runs each query's
oracle SQL in DuckDB over the same tables and compares the result with the
parquet the harness wrote: same column names, same rows as a multiset,
doubles compared bit for bit.
"""
import datetime
import json
import math
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("the a data row key table scan join merge sort batch query stream "
         "window node replica token ring flush write read slow fast small big").split()
# phrases that hit the issue patterns of documents.text
PHRASES = ["read timed out", "java.lang.OutOfMemoryError", "connection refused",
           "compaction failed", "repair error", "GC pause exceeded",
           "tombstone warning", "dropped mutation messages", "UnavailableException",
           "coordinator timeout", "heap pressure", "slow query", "batch too large",
           "streaming failed"]
LANGS = ["en", "de", "fr", "es", "zh"]


def make_tables(seed, out, n_events=2000, n_docs=400):
    """Write events.parquet and documents.parquet under `out`."""
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    t0 = datetime.datetime(2024, 1, 1)
    offsets = sorted(r.randrange(86_400_000_000) for _ in range(n_events))
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([r.randrange(50) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([r.choice(EVENT_TYPES) for _ in range(n_events)], pa.string()),
        "value": pa.array([round(r.uniform(0, 200), 2) for _ in range(n_events)], pa.float64()),
        "props": pa.array(['{"k": %d}' % r.randrange(100) for _ in range(n_events)], pa.string()),
    })
    texts = []
    for _ in range(n_docs):
        words = [r.choice(WORDS) for _ in range(r.randint(8, 60))]
        for _ in range(r.randint(0, 2)):
            words.insert(r.randrange(len(words) + 1), r.choice(PHRASES))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array(["src%d" % (i % 8) for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))
    pq.write_table(documents, os.path.join(out, "documents.parquet"))


def _canon(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = []
    for i in range(table.num_rows):
        row = []
        for col in data:
            v = col[i]
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            if isinstance(v, float):
                v = ("f", "nan" if math.isnan(v) else v.hex())
            elif isinstance(v, list):
                v = ("l", tuple(map(str, v)))
            else:
                v = (type(v).__name__, str(v))
            row.append(v)
        rows.append(tuple(row))
    return cols, sorted(rows)


def check(tables, out):
    """Return {query: problem} for every query whose result differs."""
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(tables, t + ".parquet")))
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    # a query without oracle SQL must at least return rows
    for name in sorted(os.listdir(out)):
        if name not in oracle and os.path.isdir(os.path.join(out, name)):
            if pq.read_table(os.path.join(out, name)).num_rows == 0:
                bad[name] = "no rows"
    for name, sql in sorted(oracle.items()):
        try:
            want = _canon(con.sql(sql).arrow())
            got = _canon(pq.read_table(os.path.join(out, name)))
        except Exception as e:  # a missing result or an oracle error fails the query
            bad[name] = type(e).__name__
            continue
        if want[0] != got[0]:
            bad[name] = "columns"
        elif want[1] != got[1]:
            bad[name] = "rows %d vs %d" % (len(got[1]), len(want[1])) if len(want[1]) != len(got[1]) else "values"
    return bad
