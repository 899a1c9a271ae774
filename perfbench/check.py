"""Correctness checks and the DuckDB reference pairing, all run with DuckDB
outside the timed region.

* pipeline: silver rows equal the valid lines, hour by hour; gold equals
  the generator's expected gold row for row; streaming gold equals batch
  gold.
* slice: each query's full result matches its oracle SQL in row count and
  canonical digest.
* reference: the DuckDB pipeline (read_json_auto(ignore_errors=true), the
  9-column projection, write_parquet, GROUP BY ALL count) on the same bronze
  files, timed, with the rows where its gold differs from the expected gold
  counted.
"""
import glob
import hashlib
import os
import time
from collections import Counter
from datetime import datetime

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={max(1, min(4, os.cpu_count() or 1))}")
    return con


def parquet(path):
    """A read_parquet() source over a Spark or DuckDB parquet output."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])" if files else None


GOLD_SQL = ("SELECT event_type, repo_id, repo_name, repo_url, "
            "CAST(event_date AS TIMESTAMP) AS event_date, event_count FROM {src}")


def gold_table(con, path):
    """Every row of a gold output, whole, as a multiset: a key split over
    several rows, or an event_date not at midnight, shows as a difference."""
    src = parquet(path)
    if src is None:
        return Counter()
    return Counter(con.execute(GOLD_SQL.format(src=src)).fetchall())


def expected_rows(gold, day=None):
    """The generator's expected gold as the rows gold_table() reads: one
    row per (type, repo, day) key, event_date at midnight UTC."""
    return Counter({(t, rid, name, url, datetime.strptime(d, "%Y-%m-%d"), n): 1
                    for (t, rid, name, url, d), n in gold.items() if day in (None, d)})


def diff(got, want):
    return (f"{sum((want - got).values())} rows missing or wrong, "
            f"{sum((got - want).values())} unexpected")


def pipeline(con, manifest, gold, passes):
    """Check the silver, gold and streaming outputs of every pass."""
    wrong = []
    for p in passes:
        label, sinks = p["label"], p["sinks"]
        for f in manifest["files"]:
            sink = sinks.get(f"Medallion.serialise/{f['file']}")
            src = parquet(sink) if sink else None
            rows = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0] if src else -1
            if rows != f["valid"]:
                wrong.append(f"{label} silver {f['file']}: {rows} rows, want {f['valid']}")
        batch = Counter()
        for day in sorted({f["day"] for f in manifest["files"]}):
            want = expected_rows(gold, day)
            sink = sinks.get(f"Medallion.aggregate/{day}")
            got = gold_table(con, sink) if sink else Counter()
            batch.update(got)
            if got != want:
                wrong.append(f"{label} gold {day}: {diff(got, want)}")
        if "Medallion.stream_gold/all" in sinks:
            got = gold_table(con, sinks["Medallion.stream_gold/all"])
            if got != batch:
                wrong.append(f"{label} streaming gold vs batch gold: {diff(got, batch)}")
    return wrong


def duckdb_reference(con, manifest, gold, run_dir):
    """The reference's own statements on the same bronze files."""
    src = os.path.join(run_dir, "src")
    out = os.path.join(run_dir, "duckdb")
    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    for f in manifest["files"]:
        day_dir = os.path.join(out, "silver", f["day"])
        os.makedirs(day_dir, exist_ok=True)
        con.execute("CREATE OR REPLACE TABLE raw_events AS SELECT * FROM read_json_auto("
                    f"'{os.path.join(src, f['file'])}', ignore_errors=true)")
        con.execute(
            "COPY (SELECT id AS event_id, actor.id AS user_id, actor.login AS user_name, "
            "actor.display_login AS user_display_name, type AS event_type, repo.id AS repo_id, "
            "repo.name AS repo_name, repo.url AS repo_url, created_at AS event_date "
            f"FROM raw_events) TO '{day_dir}/{f['hour']:02d}.parquet' (FORMAT PARQUET)")
    t1 = time.perf_counter()
    days = sorted({f["day"] for f in manifest["files"]})
    for day in days:
        con.execute(
            "COPY (SELECT event_type, repo_id, repo_name, repo_url, "
            "date_trunc('day', CAST(event_date AS TIMESTAMP)) AS event_date, "
            "count(*) AS event_count "
            f"FROM read_parquet('{out}/silver/{day}/*.parquet') GROUP BY ALL) "
            f"TO '{out}/gold_{day}.parquet' (FORMAT PARQUET)")
    t2 = time.perf_counter()
    got = Counter()
    for day in days:
        got.update(gold_table(con, f"{out}/gold_{day}.parquet"))
    # DuckDB 1.0 turns a non-JSON line into an all-NULL row and can swallow
    # the line after a truncated object, so its gold is expected to differ
    # from the exact expected gold by a few rows: reported, not gated
    want = expected_rows(gold)
    differing = sum(((got - want) + (want - got)).values())
    return {"silver_s": t1 - t0, "gold_s": t2 - t1, "total_s": t2 - t0,
            "gold_diff_rows": differing}


def register_lake(con, sf_dir):
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def canonical(con, source_sql):
    """(row count, digest) of a query result, independent of column and row
    order. Each row is rendered as text column by column (timestamps in UTC,
    floats widened to doubles, NULL as \\N) and hashed; the digest covers
    the sorted column names, the row count and the sum of the row hashes.
    """
    con.execute(f"CREATE OR REPLACE TEMP TABLE canon_src AS {source_sql}")
    cols = sorted((c[0], c[1]) for c in con.execute("DESCRIBE canon_src").fetchall())
    parts = []
    for name, typ in cols:
        col = '"' + name.replace('"', '""') + '"'
        if typ.startswith("TIMESTAMP"):
            col = f"CAST({col} AS TIMESTAMP)"
        elif typ == "FLOAT":
            col = f"CAST({col} AS DOUBLE)"
        parts.append(f"coalesce(CAST({col} AS VARCHAR), '\\N')")
    row = f"concat_ws(chr(31), {', '.join(parts)})" if parts else "''"
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM canon_src").fetchone()
    con.execute("DROP TABLE canon_src")
    header = ",".join(c[0] for c in cols)
    return n, hashlib.sha256(f"{header}|{n}|{total}".encode()).hexdigest()


def oracle_results(sf_dir, oracle_sql):
    """{query: [rows, digest, seconds]} of each oracle SQL on the lake."""
    con = connect()
    register_lake(con, sf_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        t = time.perf_counter()
        rows, digest = canonical(con, sql)
        out[name] = [rows, digest, time.perf_counter() - t]
    con.close()
    return out


def slice_results(con, run_dir, names, oracle):
    """Compare each query's Spark result with its oracle result."""
    wrong = []
    for n in names:
        src = parquet(os.path.join(run_dir, "check", n))
        if src is None:
            wrong.append(f"{n}: no Spark output")
            continue
        got = canonical(con, f"SELECT * FROM {src}")
        if n not in oracle:
            wrong.append(f"{n}: no oracle SQL")
        elif list(got) != oracle[n][:2]:
            wrong.append(f"{n}: spark rows={got[0]} digest={got[1][:12]}, "
                         f"oracle rows={oracle[n][0]} digest={oracle[n][1][:12]}")
    return wrong
