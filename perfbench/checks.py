"""Output checks made by the launcher after the JVM has exited.

Each check returns (wrong operations, notes). It compares the program's
outputs with facts derived without the program: the generator's own
replay for secpipe_batch, and DuckDB running the oracle SQL for
curate_mix. The streaming segment of the traced run is checked inside the
JVM, against the batch pipeline functions on the same rows.
"""
import csv
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def secpipe(work, result):
    """Every run's output CSV: surviving event ids, each row's user, the
    per-user totals and the row count must match the generator's replay."""
    with open(os.path.join(work, "input", "expect.json")) as f:
        want = json.load(f)
    event_user = want["event_user"]
    wrong, notes = 0, []
    runs = sorted(glob.glob(os.path.join(work, "out", "run-*")))
    with open(os.path.join(work, "out", "runs.txt")) as f:
        attempted = int(f.read())
    if len(runs) != attempted:
        notes.append(f"{attempted} runs attempted, {len(runs)} outputs found")
        wrong += attempted - len(runs)
    for run in runs:
        parts = glob.glob(os.path.join(run, "part-*.csv"))
        problem = None
        if len(parts) != 1:
            problem = f"{len(parts)} output files"
        else:
            with open(parts[0], newline="") as f:
                rows = list(csv.DictReader(f))
            users = {}
            for r in rows:
                users[r["user_id"]] = users.get(r["user_id"], 0) + 1
            ids = {str(int(float(r["event_id"]))): r["user_id"] for r in rows}
            if len(rows) != want["rows"]:
                problem = f"{len(rows)} rows, expected {want['rows']}"
            elif ids != event_user:
                problem = "surviving event ids or their users differ"
            elif users != want["users"]:
                problem = "per-user row counts differ"
            elif any(int(r["user_event_count_total"]) != want["users"][r["user_id"]]
                     for r in rows):
                problem = "user_event_count_total differs from the per-user totals"
        if problem:
            wrong += 1
            notes.append(f"{os.path.basename(run)}: {problem}")
    notes.append(f"secpipe_batch: {len(runs)} outputs checked, {wrong} wrong "
                 f"({want['rows']} rows, {len(want['users'])} users each)")
    return wrong, notes


def curate(work, result):
    """Each query's output against DuckDB running its oracle SQL on the same
    seeded copy of the tables, compared as the repository's own oracle gate
    (scripts/check_correctness.py) compares: columns sorted by name, types
    normalized, row by row, floats exactly."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
    from check_correctness import normalize

    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(results, "runs_per_query.txt")) as f:
        runs = int(f.read())
    con = duckdb.connect()
    # The seeded copy keeps each table as a directory of parquet files.
    for t in sorted(os.listdir(os.path.join(work, "data"))):
        name = t.split(".")[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'data', t)}/*.parquet')")
    wrong, notes = 0, []
    for q in sorted(oracles):
        files = sorted(glob.glob(os.path.join(results, q, "*.parquet")))
        problem = None
        if not files:
            problem = "no output"
        else:
            got = normalize(pd.concat([pd.read_parquet(f) for f in files]))
            want = normalize(con.execute(oracles[q]).df())
            if list(got.columns) != list(want.columns):
                problem = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                problem = f"{len(got)} rows, oracle has {len(want)}"
            else:
                got, want = got.reset_index(drop=True), want.reset_index(drop=True)
                diff = [c for c in got.columns if not
                        ((got[c].isna() & want[c].isna()) | (got[c] == want[c])).fillna(False).all()]
                if diff:
                    problem = f"columns {diff} differ"
        if problem:
            wrong += runs
            notes.append(f"{q}: {problem}")
    notes.append(f"curate_mix: {len(oracles)} queries checked against DuckDB, "
                 f"{wrong // max(runs, 1)} wrong")
    return wrong, notes


CHECKS = {"secpipe_batch": secpipe, "curate_mix": curate}
