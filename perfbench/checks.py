"""Output checks run by run.py after the JVM exits (outside every timed span).

- `oracle_compare`: query_mix results against their DuckDB oracle SQL, by
  the repo's own tools/check.py (its rules: columns sorted by name; equal
  row counts; dtype families equal; floats within 1e-9 relative,
  everything else exact; null and NaN compared separately).
- `gmail_exactly_once`: gmail_daily outputs against the generator's ground
  truth, message by message: per day, the admitted ids are exactly as many
  as the budget allows, all unseen and valid, and land in the state table
  and in stage-1 once; each landed row's subject, from, date_string and
  body (and the Indeed role, org, location) equal the generated message's
  expected fields.
"""
import collections
import csv
import datetime
import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "check.py")


def oracle_compare(corpus_dir, out_dir):
    """(queries checked, queries failed, FAIL lines) of tools/check.py over
    every query dumped under `out_dir`. A compare that dies without naming
    its failures fails every query."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        n = len(json.load(fh))
    p = subprocess.run([sys.executable, CHECK_PY, corpus_dir, out_dir],
                       capture_output=True, text=True, timeout=150)
    bad = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL ")]
    if p.returncode != 0 and not bad:
        return n, n, [f"tools/check.py exited {p.returncode}: "
                      f"{p.stderr.strip()[-300:]}"]
    return n, len(bad), bad


def _read_stage1(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


_FIELDS = ("subject", "from", "date_string", "body", "role", "org",
           "location")


def gmail_exactly_once(inputs_dir, pass_dir):
    """(messages checked, messages failed, one note per bad day) for one
    pass's outputs. Day d must admit min(budget, unseen) of its unseen
    listed ids (which ones is the pipeline's choice); each of those fails
    unless it is in that day's state rows and once in its stage-1 rows with
    every field right. Every state or stage-1 row beyond them is checked and
    failed too."""
    with open(os.path.join(inputs_dir, "truth.json")) as fh:
        truth = json.load(fh)
    msgs, budget = truth["messages"], truth["budget"]
    state = pq.read_table(os.path.join(pass_dir, "state")).to_pylist()
    by_day = {}
    for r in state:
        by_day.setdefault(r["date"].toordinal(), []).append(r["id"])
    checked = failed = 0
    notes = []
    seen = set()
    day0 = datetime.date(2024, 3, 1).toordinal()  # the first simulated day
    for d, listed in enumerate(truth["listing"]):
        ids = by_day.get(day0 + d, [])
        unseen = set(listed) - seen
        want = min(budget, len(unseen))
        admitted = {i for i in ids if i in unseen}
        stage1 = _read_stage1(os.path.join(pass_dir, "stage1", f"day_{d}"))
        landed = collections.Counter(r["id"] for r in stage1)
        wrong = {}
        for r in stage1:
            exp = msgs.get(r["id"])
            for f in _FIELDS:
                if exp is not None and (r.get(f) or None) != (exp[f] or None):
                    wrong.setdefault(r["id"], f"{f}: {r.get(f)!r} vs "
                                              f"{exp[f]!r}")
        good = sum(1 for i in admitted if landed[i] == 1 and i not in wrong)
        extra = (len(ids) - len(admitted) + max(0, len(admitted) - want) +
                 sum(c for i, c in landed.items() if i not in admitted) +
                 sum(c - 1 for i, c in landed.items() if i in admitted))
        bad = want - min(good, want) + extra
        checked += want + extra
        failed += bad
        if bad:
            why = [f"{bad} bad", f"state admitted {len(admitted)} of {want}",
                   f"{good} landed in stage-1 right"]
            why += [f"id {i} {w}" for i, w in list(wrong.items())[:1]]
            notes.append(f"day {d}: " + "; ".join(why))
        seen |= admitted
    return checked, failed, notes
