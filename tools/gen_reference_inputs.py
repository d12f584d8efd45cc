#!/usr/bin/env python3
"""Rebuild the reference workload's two input CSVs from
fixtures/match_golden.csv, so the match specs run from the repo alone.

match_golden.csv is the full reference cross product: every username
scored against every roster row, one line per (username, roster row),
usernames in input order and roster rows in roster order within each
username. The inputs fall out of it directly:

 * src/test/resources/reference/employee.csv: header
   EMP_ID,First_Name,Last_Name; the distinct (emp_id, first, last) tuples
   in roster order. A shared EMP_ID (14 and 92 in the reference roster)
   keeps every name it carries.
 * src/test/resources/reference/usernames.csv: header username; the
   distinct usernames in input order.

GoldenMatchSpec's exact equality with golden_matches.csv checks the
rebuild end to end.

Usage:
  python3 tools/gen_reference_inputs.py
"""
import csv
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(ROOT, "fixtures", "match_golden.csv")
OUT = os.path.join(ROOT, "src", "test", "resources", "reference")


def main():
    with open(FIXTURE, newline="") as f:
        rows = list(csv.DictReader(f))
    employees = list(dict.fromkeys(
        (r["emp_id"], r["first_name"], r["last_name"]) for r in rows))
    usernames = list(dict.fromkeys(r["username"] for r in rows))
    assert len(rows) == len(employees) * len(usernames), \
        "match_golden.csv is not a full username x roster cross product"
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "employee.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["EMP_ID", "First_Name", "Last_Name"])
        w.writerows(employees)
    with open(os.path.join(OUT, "usernames.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["username"])
        w.writerows([u] for u in usernames)
    print(f"wrote {len(employees)} roster rows and {len(usernames)} usernames "
          f"to {OUT}")


if __name__ == "__main__":
    main()
