"""Correctness checks of one benchmark run, independent of the program.

crm_triggers   every published report, read back from the drive folder,
               hash-matches DuckDB running its export's oracle SQL on the
               generated tables (columns in name order, rows as a
               multiset, like tools/check_oracle.py); Quotation_Raw equals
               the synthetic REST records page for page; every report
               replaced the stale copy already in the drive folder.
dedup_build    x_dedup_clusters of the last pass hash-matches its oracle.
ingest_stream  against the planted ledger: no planted exact or near
               duplicate is in the store, doc ids are distinct, a
               replayed batch appends nothing, and the store holds
               exactly the seed plus what the batches appended.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _con():
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql("SET memory_limit='1GB'")
    return con


def _digest(con, relation: str, cols: list) -> tuple:
    """(rows, order-independent hash of the rows): each row is hashed over
    its columns in name order, each rendered as text, and the row hashes
    are summed, so equal multisets of rows give equal digests."""
    cells = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    return con.sql(f"SELECT count(*), CAST(sum(hash({cells})) AS VARCHAR) "
                   f"FROM ({relation})").fetchone()


def _match(con, name: str, got_sql: str, oracle_sql: str) -> list:
    got, want = con.sql(got_sql), con.sql(oracle_sql)
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    cols = sorted(got.columns)
    g, w = _digest(con, got_sql, cols), _digest(con, oracle_sql, cols)
    if g[0] != w[0]:
        return [f"{name}: {g[0]} rows vs oracle {w[0]}"]
    if g != w:
        return [f"{name}: content differs from the oracle ({g[0]} rows)"]
    return []


def crm(rec: dict, inp: str) -> list:
    chk = rec["check"]
    con = _con()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
    problems = []
    drive = chk["drive"]
    for name, sql in sorted(chk["oracle_sql"].items()):
        path = os.path.join(drive, f"{name}.parquet")
        if not os.path.isfile(path):
            problems.append(f"{name}: not published")
            continue
        problems += _match(con, name, f"SELECT * FROM '{path}'", sql)
    raw = os.path.join(drive, "Quotation_Raw.parquet")
    n = chk["quotation_total_rows"]
    if not os.path.isfile(raw):
        problems.append("Quotation_Raw: not published")
    else:
        # PagedRestSource.record(entity, id) = (id, s"$entity-$id", id % 100, (id % 997) * 1.5)
        bad = con.sql(f"""
            SELECT count(*) AS rows, count(DISTINCT id) AS ids, min(id) AS lo, max(id) AS hi,
                   count(*) FILTER (WHERE name <> 'quotation-' || id::VARCHAR
                                       OR org_id <> id % 100
                                       OR total <> (id % 997) * 1.5) AS wrong
            FROM '{raw}'""").fetchone()
        if bad != (n, n, 0, n - 1, 0):
            problems.append(f"Quotation_Raw: (rows, ids, min, max, wrong) = {bad}, "
                            f"expected ({n}, {n}, 0, {n - 1}, 0)")
    published = set(chk["oracle_sql"]) | {"Quotation_Raw"}
    legs = chk["outcomes"]
    if set(legs) != published or any(v != "Replaced" for v in legs.values()):
        problems.append(f"upsert legs of the last pass: {legs}")
    return problems


def dedup(rec: dict) -> list:
    chk = rec["check"]
    con = _con()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{chk['documents']}'")
    return _match(con, "x_dedup_clusters", f"SELECT * FROM '{chk['clusters']}/*.parquet'",
                  chk["oracle_sql"]["x_dedup_clusters"])


def ingest(rec: dict, manifest: dict) -> list:
    chk = rec["check"]
    con = _con()
    ids = [r[0] for r in con.sql(f"SELECT doc_id FROM '{chk['store_ids']}/*.parquet'").fetchall()]
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"store doc ids not distinct: {len(ids)} rows, {len(set(ids))} ids")
    present = set(ids) & set(manifest["dropped_ids"])
    if present:
        problems.append(f"{len(present)} planted duplicates admitted, e.g. {sorted(present)[:5]}")
    first = {}
    appended = 0
    for s in chk["steps"]:
        if s["appended"] < 0:
            continue
        if s["replay"]:
            if s["appended"] != first.get(s["batch_id"]):
                problems.append(f"replay of batch {s['batch_id']} appended {s['appended']} "
                                f"rows, first delivery {first.get(s['batch_id'])}")
        else:
            first[s["batch_id"]] = s["appended"]
            appended += s["appended"]
    if len(ids) != manifest["seed_docs"] + appended:
        problems.append(f"store holds {len(ids)} docs, expected seed {manifest['seed_docs']} "
                        f"+ appended {appended}")
    return problems


def run(workload: str, rec: dict, manifest: dict, inp: str) -> list:
    try:
        if workload == "crm_triggers":
            return crm(rec, inp)
        if workload == "dedup_build":
            return dedup(rec)
        return ingest(rec, manifest)
    except Exception as e:  # a check that cannot run is a failed check
        return [f"check could not run: {type(e).__name__}: {e}"]
