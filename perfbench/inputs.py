"""Inputs and expected answers of the benchmark workloads, built with DuckDB.

Everything comes from the repository's fixtures, never from the program:

  fixtures/match_golden.csv            110 reference usernames x 154-row roster,
                                       every pair's independently derived score
  fixtures/match_synth_wide_sf01.csv.gz  125 wide usernames x 20,000 employees,
                                       every pair's score and its `is_cand` flag

`expected(...)` derives the answer of the match contract (top 4 per username in
(score desc, emp_id asc, employee_name asc) order, rows scoring at least 50,
dense-rank labels, `score_fmt%`, USER NOT FOUND sentinels) with SQL over those
scores.  `write_inputs(...)` lays the workload's inputs out in the order the
seed picks.
"""
import csv
import hashlib
import os
import random
import shutil
import time

import duckdb

GOLDEN = "fixtures/match_golden.csv"
WIDE = "fixtures/match_synth_wide_sf01.csv.gz"
WIDE_N_PART = 20000

# request files the reference usernames are dealt into for ref_stream, and the
# wide usernames for the serving probe of the traced wide runs
REF_REQUEST_FILES = 11
WIDE_REQUEST_FILES = 5
# leading request files copied into warmup/: the source of the ref_stream
# warm-up, and of the one batch the traced wide runs serve
WARMUP_FILES = {"ref_stream": 4, "wide_exact": 1, "wide_blocked": 1}

_LABELS = """CASE rank WHEN 1 THEN 'HIGH CONFIDENCE'
                       WHEN 2 THEN '2nd HIGH CONFIDENCE'
                       WHEN 3 THEN '3rd HIGH CONFIDENCE'
                       WHEN 4 THEN 'NOT SURE' ELSE '' END"""


def _answer_sql(pairs):
    """The match contract over a `pairs(username, emp_id, employee_name, score,
    score_fmt)` relation; usernames without any pair get the sentinel."""
    return f"""
      WITH ranked AS (
        SELECT *, row_number() OVER (PARTITION BY username
                   ORDER BY score DESC, emp_id, employee_name) AS rn
        FROM ({pairs})),
      topk AS (
        SELECT *, dense_rank() OVER (PARTITION BY username ORDER BY score DESC) AS rank
        FROM ranked WHERE rn <= 4)
      SELECT username, emp_id, employee_name AS emp_name,
             score_fmt || '%' AS confidence_score, {_LABELS} AS match_type
        FROM topk WHERE score >= 50
      UNION ALL
      SELECT u.username, 'N/A', 'USER NOT FOUND', '0.00%', 'USER NOT FOUND'
        FROM users u
       WHERE NOT EXISTS (SELECT 1 FROM topk t
                          WHERE t.username = u.username AND t.score >= 50)
      ORDER BY 1, 2, 3"""


def _fixture_table(con, workload):
    if workload == "ref_stream":
        con.execute(f"""CREATE TABLE pairs AS SELECT * FROM read_csv('{GOLDEN}',
            header=true, types={{'emp_id': 'VARCHAR', 'score': 'DOUBLE',
                                 'score_fmt': 'VARCHAR'}})""")
        con.execute("""CREATE TABLE roster AS SELECT DISTINCT emp_id, first_name, last_name
                       FROM pairs""")
    else:
        con.execute(f"""CREATE TABLE pairs AS SELECT * FROM read_csv('{WIDE}',
            header=true, types={{'emp_id': 'VARCHAR', 'score': 'DOUBLE',
                                 'score_fmt': 'VARCHAR', 'is_cand': 'INTEGER'}})
            WHERE n_part = {WIDE_N_PART}""")
        con.execute("CREATE TABLE roster AS SELECT DISTINCT emp_id, employee_name FROM pairs")
    con.execute("CREATE TABLE users AS SELECT DISTINCT username FROM pairs")


def _write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")


def _digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


def expected(workload, cache_dir):
    """Builds (once per fixture content) the base inputs and expected answers of
    `workload` under `cache_dir` and returns that directory:

      users.tsv, roster.tsv    the inputs before the seed orders them
      exact.tsv                expected answer of the exact path
      blocked.tsv, cand.tsv    (wide only) expected answer of the blocked path,
                               and (username, emp_id, employee_name, score_fmt)
                               of every candidate pair
    """
    fixture = GOLDEN if workload == "ref_stream" else WIDE
    kind = "ref" if workload == "ref_stream" else "wide"
    out = os.path.join(cache_dir, f"{kind}-{_digest(fixture)}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    _fixture_table(con, workload)
    _write_tsv(os.path.join(out, "users.tsv"),
               con.sql("SELECT username FROM users ORDER BY 1").fetchall())
    cols = "emp_id, first_name, last_name" if kind == "ref" else "emp_id, employee_name"
    _write_tsv(os.path.join(out, "roster.tsv"),
               con.sql(f"SELECT {cols} FROM roster ORDER BY ALL").fetchall())
    all_pairs = "SELECT username, emp_id, employee_name, score, score_fmt FROM pairs"
    _write_tsv(os.path.join(out, "exact.tsv"), con.sql(_answer_sql(all_pairs)).fetchall())
    if kind == "wide":
        cand = all_pairs + " WHERE is_cand = 1"
        _write_tsv(os.path.join(out, "blocked.tsv"), con.sql(_answer_sql(cand)).fetchall())
        _write_tsv(os.path.join(out, "cand.tsv"), con.sql(
            "SELECT username, emp_id, employee_name, score_fmt FROM pairs "
            "WHERE is_cand = 1 ORDER BY ALL").fetchall())
    con.close()
    open(os.path.join(out, "done"), "w").close()
    return out


def _read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f]


def _deal(users, n):
    """Splits `users` into n request lists whose sizes differ by at most one."""
    return [users[i::n] for i in range(n)]


def write_inputs(workload, seed, base, inputs_dir):
    """Writes the seed-ordered inputs of `workload` into `inputs_dir`:

      roster.csv       the roster as a client would upload it (reference-style
                       EMP_ID/First_Name/Last_Name headers for ref_stream,
                       STAFF_ID/Full Name aliases for the wide roster)
      usernames.csv    every username, header `username`
      requests/*.parquet  the usernames dealt into request files
      requests.tsv     (file, username) lines naming each file's usernames
      warmup/*.parquet the first request files again (see WARMUP_FILES)
    """
    rng = random.Random(seed)
    users = [r[0] for r in _read_tsv(os.path.join(base, "users.tsv"))]
    roster = _read_tsv(os.path.join(base, "roster.tsv"))
    rng.shuffle(users)
    rng.shuffle(roster)
    os.makedirs(inputs_dir, exist_ok=True)
    header = (["EMP_ID", "First_Name", "Last_Name"] if workload == "ref_stream"
              else ["STAFF_ID", "Full Name"])
    with open(os.path.join(inputs_dir, "roster.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(roster)
    with open(os.path.join(inputs_dir, "usernames.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["username"])
        w.writerows([u] for u in users)
    n = REF_REQUEST_FILES if workload == "ref_stream" else WIDE_REQUEST_FILES
    req_dir = os.path.join(inputs_dir, "requests")
    os.makedirs(req_dir, exist_ok=True)
    parts = _deal(users, n)
    _write_tsv(os.path.join(inputs_dir, "requests.tsv"),
               [(f"req-{i:03d}.parquet", u) for i, part in enumerate(parts) for u in part])
    con = duckdb.connect()
    now_s = int(time.time())
    for i, part in enumerate(parts):
        con.execute("CREATE OR REPLACE TABLE req (username VARCHAR)")
        con.executemany("INSERT INTO req VALUES (?)", [[u] for u in part])
        path = os.path.join(req_dir, f"req-{i:03d}.parquet")
        con.execute(f"COPY req TO '{path}' (FORMAT PARQUET)")
        # the file source serves files oldest first: space the mtimes a second
        # apart so the serving order is the dealing order
        t = (now_s - n + i) * 1_000_000_000
        os.utime(path, ns=(t, t))
    con.close()
    warm_dir = os.path.join(inputs_dir, "warmup")
    os.makedirs(warm_dir)
    for i in range(WARMUP_FILES[workload]):
        shutil.copy2(os.path.join(req_dir, f"req-{i:03d}.parquet"), warm_dir)
