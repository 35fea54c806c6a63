"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Fast tests need only Python (numpy, pyarrow, duckdb). Set PERFBENCH_SLOW=1
to also run the whole command once per workload with a deliberately
corrupted output (builds the harness on first use; a few minutes).
"""
import csv
import datetime
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")
SMALL = {"gmail_daily": lambda s, d: gen.mailbox(s, d, days=2, base_new=20,
                                                 budget=15),
         "query_mix": lambda s, d: gen.corpus(s, d, scale=1, replicas=2),
         "table_churn": lambda s, d: gen.churn(s, d, batch_rows=200)}


def tearDownModule():
    shutil.rmtree(SCRATCH, ignore_errors=True)


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, s), os.path.join(b, s))
        for s in cmp.common_dirs)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for wl, g in SMALL.items():
            with self.subTest(workload=wl):
                a, b, c = (scratch(f"det_{wl}_{k}") for k in "abc")
                g(7, a)
                g(7, b)
                g(8, c)
                self.assertTrue(same_tree(a, b))
                self.assertFalse(same_tree(a, c))


def fake_jvm_result(workload):
    """A JVM summary as perfbench.Main writes it, with every layer metric
    the workload reports itself."""
    spec = run.load_spec()
    prefixes = {"gmail_daily": ("api.", "pipeline."),
                "query_mix": ("query.", "queries.", "functions."),
                "table_churn": ("snapshot.", "stream.")}[workload]
    layer = {m["name"]: 1.5 for m in spec["per_layer"]
             if m["name"].startswith(prefixes + ("spark.", "trace."))}
    return {"end_to_end": {m["name"]: 2.5 for m in spec["end_to_end"]},
            "per_layer": layer}


class MetricsNamedWithUnits(unittest.TestCase):
    def test_every_metric_printed_with_name_and_unit(self):
        spec = run.load_spec()
        for wl in SMALL:
            for trace in (0, 1):
                with self.subTest(workload=wl, trace=trace):
                    res = fake_jvm_result(wl)
                    line = run.result_line(spec, trace, res["end_to_end"],
                                           res["per_layer"], 10, 0)
                    want = spec["per_layer" if trace else "end_to_end"]
                    self.assertEqual(set(line["metrics"]),
                                     {m["name"] for m in want})
                    for m in want:
                        got = line["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"])
                        self.assertIsInstance(got["value"], float)
                    self.assertEqual(set(line), {"correct", "attempted",
                                                 "failed", "metrics"})

    def test_unknown_metric_is_refused(self):
        spec = run.load_spec()
        res = fake_jvm_result("query_mix")
        res["per_layer"]["query.q_not_in_the_spec_s"] = 1.0
        with self.assertRaises(SystemExit):
            run.result_line(spec, 1, res["end_to_end"], res["per_layer"], 1, 0)

    def test_query_metrics_match_the_harness_list(self):
        with open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                               "QueryMix.scala")) as fh:
            src = fh.read()
        block = src[src.index("val Queries"):src.index("val Functions")]
        fns = re.findall(r'^    "([a-z0-9_]+)" -> ',
                         src[src.index("val Functions"):], re.M)
        names = {m["name"] for m in run.load_spec()["per_layer"]}
        for q in re.findall(r'"(q_[a-z0-9_]+)"', block):
            self.assertIn(f"query.{q}_s", names)
        for f in fns:
            self.assertIn(f"functions.{f}_s", names)


def gmail_pass_from_truth(inputs, out):
    """The outputs a correct gmail_daily pass writes, built from the
    generator's ground truth: per day the first `budget` unseen ids."""
    with open(os.path.join(inputs, "truth.json")) as fh:
        truth = json.load(fh)
    seen, ids, dates = set(), [], []
    for d, listed in enumerate(truth["listing"]):
        fresh = [i for i in dict.fromkeys(listed) if i not in seen]
        day_ids = fresh[:truth["budget"]]
        seen |= set(day_ids)
        ids += day_ids
        dates += [datetime.date(2024, 3, 1) + datetime.timedelta(days=d)] * \
            len(day_ids)
        sd = os.path.join(out, "stage1", f"day_{d}")
        os.makedirs(sd)
        with open(os.path.join(sd, "part-0.csv"), "w", newline="") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_ALL)
            w.writerow(["id", "mimeType"] + list(checks._FIELDS))
            for i in day_ids:
                m = truth["messages"][i]
                w.writerow([i, m["mimeType"] or ""] +
                           [m[f] or "" for f in checks._FIELDS])
    os.makedirs(os.path.join(out, "state"))
    pq.write_table(pa.table({"id": ids, "date": pa.array(dates, pa.date32())}),
                   os.path.join(out, "state", "part-0.parquet"))


class CorruptedOutputCounts(unittest.TestCase):
    def test_gmail_corrupted_body_is_a_failure(self):
        inputs, out = scratch("gm_in"), scratch("gm_out")
        SMALL["gmail_daily"](3, inputs)
        gmail_pass_from_truth(inputs, out)
        n, bad, notes = checks.gmail_exactly_once(inputs, out)
        self.assertEqual((bad, notes), (0, []))
        self.assertEqual(n, pq.read_table(os.path.join(out, "state")).num_rows)
        f = os.path.join(out, "stage1", "day_1", "part-0.csv")
        with open(f, newline="") as fh:
            rows = list(csv.reader(fh))
        rows[1][rows[0].index("body")] += " tampered"
        with open(f, "w", newline="") as fh:
            csv.writer(fh, quoting=csv.QUOTE_ALL).writerows(rows)
        n, bad, notes = checks.gmail_exactly_once(inputs, out)
        self.assertEqual((bad, len(notes)), (1, 1))
        line = run.result_line(run.load_spec(), 0,
                               fake_jvm_result("gmail_daily")["end_to_end"],
                               {}, n, bad)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)

    def test_gmail_lost_message_is_a_failure(self):
        inputs, out = scratch("gm2_in"), scratch("gm2_out")
        SMALL["gmail_daily"](4, inputs)
        gmail_pass_from_truth(inputs, out)
        f = os.path.join(out, "stage1", "day_0", "part-0.csv")
        with open(f, newline="") as fh:
            rows = list(csv.reader(fh))
        with open(f, "w", newline="") as fh:
            csv.writer(fh, quoting=csv.QUOTE_ALL).writerows(rows[:-1])
        _, bad, _ = checks.gmail_exactly_once(inputs, out)
        self.assertEqual(bad, 1)

    def test_query_result_off_by_one_is_a_failure(self):
        corpus, dump = scratch("qm_corpus"), scratch("qm_dump")
        SMALL["query_mix"](5, corpus)
        sql = ("SELECT o_orderpriority, count(*) AS n, "
               "CAST(sum(o_totalprice) AS DOUBLE) AS s FROM orders "
               "GROUP BY 1 ORDER BY 1")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                    f"'{corpus}/orders.parquet'")
        good = con.execute(sql).arrow()
        os.makedirs(os.path.join(dump, "q_ok"))
        os.makedirs(os.path.join(dump, "q_bad"))
        pq.write_table(good, os.path.join(dump, "q_ok", "part-0.parquet"))
        n = good.column("n").to_pylist()
        n[2] += 1
        bad = good.set_column(1, "n", pa.array(n, good.schema.field("n").type))
        pq.write_table(bad, os.path.join(dump, "q_bad", "part-0.parquet"))
        with open(os.path.join(dump, "oracle_sql.json"), "w") as fh:
            json.dump({"q_ok": sql, "q_bad": sql}, fh)
        checked, failed, lines = checks.oracle_compare(corpus, dump)
        self.assertEqual((checked, failed), (2, 1))
        self.assertTrue(lines[0].startswith(
            "FAIL q_bad: value mismatch col=n row=2"), lines)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1",
                     "set PERFBENCH_SLOW=1 to run the whole command")
class WholeCommand(unittest.TestCase):
    def run_cmd(self, workload, *extra):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "11", "--seconds", "1", *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_corrupted_output_shows_in_fail_frac(self):
        for wl in SMALL:
            with self.subTest(workload=wl):
                res = self.run_cmd(wl, "--corrupt", "1", "--trace", "1")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertGreater(
                    res["metrics"]["bench.fail_frac"]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
