"""Output checks against DuckDB, which shares no code with the engine.

- Query workloads: each dumped query output is compared with DuckDB
  running the query's ``oracleSql`` row over the same parquet tables, by
  the rule of tools/check.py: columns sorted by name, integer widths
  ignored but dtype kinds compared, rows sorted, values exact.
- etl_cdc_load: DuckDB runs ``SparkEntry.oracleSql`` for
  ``etl_tracking_replay`` / ``etl_events_replay`` over the generated
  files. The events table additionally follows the sink's rule that the
  latest DAG run wins per key. The final PostgreSQL tables are compared
  by row count and an order-independent md5 sum; the README queries by
  their full result rows.
"""
import hashlib
import math
import os
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# the corpus glob the replay oracles read, swapped for the generated files
CORPUS_GLOB = re.compile(r"read_csv\('[^']*\*\.csv'")


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _con(mem_gb, threads):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{mem_gb}GB'")
    con.execute(f"SET threads={threads}")
    return con


def _query(sql):
    """The query of a fenced oracle row, without its leading SET lines."""
    q = re.sub(r"\A(\s*SET [^;]*;)*", "", sql).strip()
    assert ";" not in q.rstrip(";"), "oracle row is not a single query"
    return q


def _cache_file(cache_dir, name, sql, sf_dir):
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{sf_dir}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.pkl")


def expected(name, sql, sf_dir, cache_dir, mem_gb=4, threads=4):
    """The oracle's result for one query. The sf tables are fixed, so the
    result is computed once per build and kept in `cache_dir`, keyed by
    the SQL text and the table files."""
    path = _cache_file(cache_dir, name, sql, sf_dir)
    if os.path.isfile(path):
        return pd.read_pickle(path)
    con = _con(mem_gb, threads)
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        exp = con.sql(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check_query(name, sql, sf_dir, dump_dir, cache_dir):
    """Return None when the dump matches the oracle, else a reason."""
    path = os.path.join(dump_dir, name)
    if not os.path.isdir(path):
        return "no output was written"
    exp = expected(name, sql, sf_dir, cache_dir)
    con = _con(1, 2)
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    finally:
        con.close()
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns differ: oracle {list(exp.columns)}, got {list(got.columns)}"

    def kind(dt):
        return "int" if dt.kind in ("i", "u") else dt.kind
    bad = [c for c in exp.columns if kind(exp[c].dtype) != kind(got[c].dtype)]
    if bad:
        return f"dtype kinds differ in {bad}"
    er = sorted((tuple(_norm(v) for v in r) for r in exp.itertuples(index=False)),
                key=lambda r: tuple(str(x) for x in r))
    gr = sorted((tuple(_norm(v) for v in r) for r in got.itertuples(index=False)),
                key=lambda r: tuple(str(x) for x in r))
    if len(er) != len(gr):
        return f"row counts differ: oracle {len(er)}, got {len(gr)}"
    diff = sum(1 for a, b in zip(er, gr) if a != b)
    return f"{diff}/{len(er)} rows differ" if diff else None


def _files_sql(corpus_dir, names):
    return "[" + ", ".join(f"'{os.path.join(corpus_dir, n)}'" for n in names) + "]"


def _replay(sql, corpus_dir, names):
    q, n = CORPUS_GLOB.subn(lambda _: "read_csv(" + _files_sql(corpus_dir, names), _query(sql))
    assert n == 1, "oracle SQL no longer reads one corpus glob"
    return q


def _hash_sql(table, cols, timestamps):
    parts = []
    for c in cols:
        v = (f'CAST(epoch_us("{c}") AS VARCHAR)' if c in timestamps
             else f'"{c}"')
        parts.append(f"coalesce({v}, '~')")
    return (f"SELECT CAST(count(*) AS VARCHAR), CAST(coalesce(sum(CAST("
            f"'0x' || substr(md5(concat_ws('|', {', '.join(parts)})), 1, 12)"
            f" AS BIGINT)), 0) AS VARCHAR) FROM {table}")


def _text(v):
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def _pg_text(v):
    """PostgreSQL prints a UTC timestamptz with a "+00" suffix; the
    session time zone is UTC, so the suffix carries no information."""
    if v is not None and re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.\d+)?\+00", v):
        return v[:-3]
    return v


def _rows(rows):
    return sorted((tuple(r) for r in rows), key=lambda r: tuple(map(str, r)))


def check_etl(check, oracle_sql, corpus_dir, mem_gb=3, threads=4):
    """Return a list of mismatch descriptions (empty when all match) and
    the number of comparisons made."""
    files = check["files"]
    backfill = check["backfill"]
    per_run = check["batch_files"]["events"]
    mismatches, compared = [], 0
    con = _con(mem_gb, threads)
    try:
        # the events replay (the expensive JSON parse) runs once; each
        # phase keeps its files' rows
        con.execute("CREATE TABLE events_all AS " +
                    _replay(oracle_sql["events"], corpus_dir, files))
        for phase, names in (("phase1", files[:backfill]), ("phase2", files)):
            # events DAG run of each file: 0 for the backfill, then one per
            # batch of `per_run` incremental files
            runs = [(n, 0 if i < backfill else 1 + (i - backfill) // per_run)
                    for i, n in enumerate(names)]
            con.execute("CREATE OR REPLACE TABLE runs (fileName VARCHAR, run INTEGER)")
            con.executemany("INSERT INTO runs VALUES (?, ?)", runs)
            con.execute("CREATE OR REPLACE TABLE tracking AS " +
                        _replay(oracle_sql["tracking"], corpus_dir, names))
            con.execute(
                "CREATE OR REPLACE TABLE events AS SELECT e.* FROM events_all e "
                "JOIN runs r ON e.fileName = r.fileName "
                "QUALIFY r.run = max(r.run) OVER (PARTITION BY e.oid__id)")
            got = check[phase]
            for table, spec in check["hash_cols"].items():
                exp = list(con.sql(_hash_sql(table, spec["cols"],
                                             set(spec["timestamps"]))).fetchone())
                compared += 1
                if exp != got["hash"][table]:
                    mismatches.append(
                        f"{phase} {table}: PostgreSQL (rows, md5 sum) "
                        f"{got['hash'][table]} != oracle {exp}")
            for name, sql in check["readme_sql"].items():
                exp = _rows(tuple(_text(v) for v in r) for r in con.sql(sql).fetchall())
                have = _rows(tuple(map(_pg_text, r)) for r in got["readme"][name])
                compared += 1
                if exp != have:
                    first = next((a, b) for a, b in zip(exp + [None] * len(have),
                                                        have + [None] * len(exp))
                                 if a != b)
                    mismatches.append(f"{phase} README {name}: {len(have)} rows "
                                      f"vs oracle {len(exp)}; first difference "
                                      f"{first[1]} != {first[0]}")
    finally:
        con.close()
    return mismatches, compared
