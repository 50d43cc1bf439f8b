"""Seeded input generators: one per declared workload, and one for the
streaming segment of the traced secpipe_batch run.

Every generator takes the seed and writes its inputs under ``<work>/input``
(and ``<work>/data`` for curate_mix). The same seed gives byte-identical
files; another seed gives other files. Each generator also derives, on its
own and without Spark, the facts the output checks compare against.
"""
import datetime as dt
import json
import os
import random
import re

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# Raw vocabularies with the case, separator and padding noise of the
# reference fixture (FIXTURES.md section 1). Every status and severity
# spelling is one the pipeline's synonym maps know.
EVENT_TYPES = ["Login", "login ", "LOG-IN", "logout", "Log Out", "FILE ACCESS",
               "file-access", "File-Delete", "password reset", "process_start",
               "Network Conn"]
STATUSES = ["Success", "ok", "FAILED", "denied ", "Passed", "ERROR", "succeeded",
            "deny", "blocked", "allowed", "unauthorized", "failure", "pass"]
SEVERITIES = ["High", "medium", "Low", "CRIT", "info", "WARNING", "high ",
              "informational", "critical", "med", "warn", "severe", "notice",
              "emergency"]
CANONICAL = "%Y-%m-%d %H:%M:%S"
ODD_TIMESTAMPS = ["%m/%d/%Y %H:%M:%S", "%Y-%m-%dT%H:%M:%SZ", "%Y/%m/%d %H:%M:%S",
                  "%b %d %Y %H:%M:%S", "%d-%m-%Y %H:%M:%S", "invalid", ""]
BASE_TIME = dt.datetime(2025, 12, 1)

SECPIPE_ROWS = 15_000
CURATE_TABLES = ["customer", "documents", "embeddings", "events"]


def normalize_user(raw):
    """The pipeline's user_id canonicalization, replayed in Python."""
    s = raw.strip().lower()
    s = re.sub(r"[\s\-]+", "_", s)
    s = re.sub(r"_+", "_", s)
    return s or "unknown"


def zipf_users(rng, n_users, k, s=1.1):
    weights = [1.0 / (r + 1) ** s for r in range(n_users)]
    return rng.choices(range(n_users), weights=weights, k=k)


def render_user(rng, u):
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.04:
        return f"USER_{u:05d}"
    if r < 0.07:
        return f"user-{u:05d}"
    if r < 0.10:
        return f"  user_{u:05d} "
    return f"user_{u:05d}"


def render_ts(rng, t):
    """(text, parses) for event time ``t``: canonical, or (5%) one of the
    formats the pipeline drops."""
    if rng.random() < 0.05:
        fmt = rng.choice(ODD_TIMESTAMPS)
        return (t.strftime(fmt) if "%" in fmt else fmt), False
    return t.strftime(CANONICAL), True


def render_ip(rng):
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.015:
        return "invalid_ip"
    if r < 0.02:
        return "fe80::1"
    ip = ".".join(str(rng.randrange(256)) for _ in range(4))
    return f" {ip} " if r < 0.05 else ip


def payload(rng):
    return [rng.choice(EVENT_TYPES), rng.choice(STATUSES), rng.choice(SEVERITIES),
            render_ip(rng)]


def write_meta(input_dir, facts):
    with open(os.path.join(input_dir, "meta.properties"), "w") as f:
        for k in sorted(facts):
            f.write(f"{k}={facts[k]}\n")


def secpipe(seed, work):
    """A dirty raw-events CSV: Zipf user skew, ~5% non-canonical
    timestamps, ~2% exact duplicates, ~1% key duplicates with conflicting
    payloads, ~1% blank users. Writes ``expect.json`` with the surviving
    event ids and per-user totals, derived by replaying keep-last dedup
    and the timestamp filter."""
    rng = random.Random(seed)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir, exist_ok=True)
    n_users = SECPIPE_ROWS // 40
    users = zipf_users(rng, n_users, SECPIPE_ROWS)
    out = []  # (event_id, ts_text, parses, user_text, payload)
    for i in range(SECPIPE_ROWS):
        t = BASE_TIME + dt.timedelta(seconds=rng.randrange(3 * 86400))
        ts, ok = render_ts(rng, t)
        out.append((100_000 + i, ts, ok, render_user(rng, users[i]), payload(rng)))
        r = rng.random()
        if r < 0.02:
            out.append(out[rng.randrange(len(out))])
        elif r < 0.03:
            eid = out[rng.randrange(len(out))][0]
            t2 = BASE_TIME + dt.timedelta(seconds=rng.randrange(3 * 86400))
            ts2, ok2 = render_ts(rng, t2)
            u2 = render_user(rng, zipf_users(rng, n_users, 1)[0])
            out.append((eid, ts2, ok2, u2, payload(rng)))
    with open(os.path.join(input_dir, "raw_events.csv"), "w") as f:
        f.write("event_id,timestamp,user_id,event_type,status,severity,source_ip\n")
        for eid, ts, _, u, p in out:
            f.write(",".join([str(eid), ts, u] + p) + "\n")
    last = {}
    for row in out:
        last[row[0]] = row
    survivors = {eid: normalize_user(r[3]) for eid, r in last.items() if r[2]}
    per_user = {}
    for u in survivors.values():
        per_user[u] = per_user.get(u, 0) + 1
    with open(os.path.join(input_dir, "expect.json"), "w") as f:
        json.dump({"rows": len(survivors), "users": per_user,
                   "event_user": {str(k): v for k, v in sorted(survivors.items())}},
                  f, sort_keys=True)
    write_meta(input_dir, {"rows": len(out), "expect_rows": len(survivors)})


def curate(seed, work):
    """A copy of the curation tables whose row order and file split come
    from the seed; the content is unchanged, so the DuckDB oracles stay
    valid."""
    rng = random.Random(seed)
    data = os.path.join(work, "data")
    for t in CURATE_TABLES:
        table = pq.read_table(os.path.join(HERE, "data", f"{t}.parquet"))
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(order)
        parts = 1 + rng.randrange(4)
        d = os.path.join(data, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // parts)
        for p in range(parts):
            pq.write_table(table.slice(p * step, step),
                           os.path.join(d, f"part-{p:05d}.parquet"))
    os.makedirs(os.path.join(work, "input"), exist_ok=True)
    write_meta(os.path.join(work, "input"), {"tables": ",".join(CURATE_TABLES)})


# soc_stream schedule. Chunk 0 is fed alone and waited for (the cold
# start); then the generator appends one chunk every CHUNK_MS: WARMUP_MS at
# the reference rate, half the window at the reference rate (rung 0), then
# one rung of RUNG_MS at each LADDER multiple of that rate. A rung spans
# several triggers, so the backlog it leaves can be seen to grow or not.
CHUNK_MS = 50
TRIGGER_MS = 500
WARMUP_MS = 2000
REF_RATE = 1000
LADDER = [2, 4, 8]
RUNG_MS = 5000
SPAN_S = 90 * 60


def stream(seed, work, seconds):
    """Seeded dirty events in event-time order for the open loop: ~5%
    non-canonical timestamps, ~2% exact duplicates, ~1% blank users, and
    out-of-order rows (up to 10 minutes early) confined to every eighth
    user, so the other users' session ids must match batch exactly. After
    chunk 0, ~0.5% of rows are late by a day and must be dropped by both
    queries' watermarks."""
    rng = random.Random(seed)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir, exist_ok=True)
    window_ms = seconds * 1000
    ref_end = WARMUP_MS + window_ms // 2
    rung_ms = RUNG_MS
    schedule = []  # (due_ms, rung, rate)
    for due in range(0, ref_end, CHUNK_MS):
        schedule.append((due, 0, REF_RATE))
    for r, mult in enumerate(LADDER, start=1):
        start = ref_end + (r - 1) * rung_ms
        for due in range(start, start + rung_ms, CHUNK_MS):
            schedule.append((due, r, REF_RATE * mult))
    sizes = [rate * CHUNK_MS // 1000 for _, _, rate in schedule]
    total = sum(sizes) + sizes[0]
    n_users = 500
    users = zipf_users(rng, n_users, total)
    disordered = {u for u in range(n_users) if u % 8 == 7}
    rows = []  # chunk, late, event_id, ts, user, payload...
    chunk_rows = [sizes[0]] + sizes
    i = 0
    for c, n in enumerate(chunk_rows):
        for _ in range(n):
            t = BASE_TIME + dt.timedelta(seconds=i * SPAN_S // total)
            u = users[i]
            late = c > 0 and rng.random() < 0.005
            if late:
                t -= dt.timedelta(days=1)
            elif u in disordered and rng.random() < 0.2:
                t -= dt.timedelta(seconds=rng.randrange(60, 600))
            ts, _ = render_ts(rng, t)
            # Blank users become "unknown", which the session check compares,
            # so only in-order users may be blank.
            blank = u not in disordered and rng.random() < 0.01
            user = "" if blank else f"user_{u:05d}"
            row = [str(c), "1" if late else "0", str(1_000_000 + i), ts, user] + payload(rng)
            rows.append(row)
            if not late and rng.random() < 0.02:
                rows.append(list(row))
            i += 1
    with open(os.path.join(input_dir, "stream.tsv"), "w") as f:
        for row in rows:
            f.write("\t".join(row) + "\n")
    with open(os.path.join(input_dir, "chunks.tsv"), "w") as f:
        f.write("0\t0\t0\n")
        for k, (due, rung, _) in enumerate(schedule, start=1):
            f.write(f"{k}\t{due}\t{rung}\n")
    parses = {r[2] for r in rows if r[1] == "0" and _canonical(r[3])}
    facts = {"trigger_ms": TRIGGER_MS, "window_start_ms": WARMUP_MS, "ref_end_ms": ref_end,
             "ref_rate": REF_RATE, "rows": len(rows), "expect_dedup_rows": len(parses),
             "disordered_users": ",".join(f"user_{u:05d}" for u in sorted(disordered))}
    facts.update(rung0_rate=REF_RATE, rung0_start_ms=WARMUP_MS, rung0_end_ms=ref_end)
    for r, mult in enumerate(LADDER, start=1):
        facts[f"rung{r}_rate"] = REF_RATE * mult
        facts[f"rung{r}_start_ms"] = ref_end + (r - 1) * rung_ms
        facts[f"rung{r}_end_ms"] = ref_end + r * rung_ms
    write_meta(input_dir, facts)


def _canonical(ts):
    try:
        return dt.datetime.strptime(ts, CANONICAL).strftime(CANONICAL) == ts
    except ValueError:
        return False


# The declared workloads. The stream generator feeds the streaming segment
# of the traced secpipe_batch run.
GENERATORS = {"secpipe_batch": secpipe, "curate_mix": curate}
