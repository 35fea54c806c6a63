#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload gmail_daily --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. The first run builds the harness and the
library from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while no source file changed. Each run:

1. generates the workload's inputs from --seed (perfbench/gen.py) into a
   fresh work directory under .bench_work/;
2. starts one JVM (perfbench.Main) with its own java.io.tmpdir and
   SPARK_LOCAL_DIRS under that work directory, which sets up, runs timed
   passes for --seconds, and checks what it can check itself; `setup_s` is
   the wall time from the start of step 1 to the first timed op;
3. checks the outputs that need the generator's ground truth or DuckDB
   (perfbench/checks.py; the DuckDB compare is the repo's tools/check.py);
4. prints {"correct", "attempted", "failed", "metrics"}: the end_to_end
   metrics of BENCHMARK.json with --trace 0, its per_layer metrics with
   --trace 1 (the traced run also writes .bench_out/<run>/trace.json);
5. deletes the work directory.

--cores, --heap and the API delays are stated in BENCHMARK.json's command.
"""
import argparse
import csv
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# input sizes: the timed inputs and the small rehearsal set used in set-up
INPUTS = {
    "gmail_daily": (lambda s, d: gen.mailbox(s, d),
                    lambda s, d: gen.mailbox(s, d, days=2, base_new=20,
                                             budget=15)),
    "query_mix": (lambda s, d: gen.corpus(s, d),
                  lambda s, d: gen.corpus(s, d, scale=1, replicas=1)),
    "table_churn": (lambda s, d: gen.churn(s, d),
                    lambda s, d: gen.churn(s, d, batch_rows=200, appends=1,
                                           stream_files=1)),
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the library's own build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase in build.sbt", 3)
    return m.group(1)


def build():
    """sbt compile of perfbench/build.sbt, skipped when sources are unchanged.
    sbt's own state (boot, global base, ivy) is kept under .bench_build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at src/main/scala: run from the repo root")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts (its version probe too) keeps its
    # temp files, perf data and native-library unpacking inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                 f"-Djna.tmpdir={tmp}")
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.ivy.home={BUILD}/ivy"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # the offline resolver set-up of the toolchain
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(digest)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(args, work, inputs, small):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the work directory
    cmd = (["java", f"-Xmx{args.heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--small", small,
            "--work", os.path.join(work, "run"), "--seconds",
            str(args.seconds), "--trace", str(args.trace), "--cores",
            str(args.cores), "--get-delay-ms", str(args.get_delay_ms),
            "--list-delay-ms", str(args.list_delay_ms), "--corrupt",
            str(args.corrupt), "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        return None
    with open(out) as f:
        return json.load(f)


def ground_truth_checks(workload, work, inputs):
    """(attempted, failed, notes) of the checks run.py does itself."""
    passes = sorted(
        (os.path.join(work, "run", d) for d in os.listdir(
            os.path.join(work, "run")) if d.startswith("pass_")),
        key=lambda p: int(p.rsplit("_", 1)[1]))
    if workload == "gmail_daily":
        att, failed, notes = 0, 0, []
        for p in passes:
            n, bad, why = checks.gmail_exactly_once(inputs, p)
            att += n
            failed += bad
            notes += [f"{os.path.basename(p)} {w}" for w in why]
        return att, failed, notes
    if workload == "query_mix":
        warm = os.path.join(work, "run", "warmup")
        return checks.oracle_compare(os.path.join(warm, "corpus"),
                                     os.path.join(warm, "check"))
    return 0, 0, []


def corrupt_output(workload, work):
    """Tamper with one output before it is checked (the benchmark's own
    test that a wrong output shows up in `failed`). table_churn's checks run
    inside the JVM, which gets --corrupt itself."""
    run_dir = os.path.join(work, "run")
    if workload == "gmail_daily":
        f = sorted(glob.glob(os.path.join(run_dir, "pass_0", "stage1",
                                          "day_0", "*.csv")))[0]
        with open(f, newline="", encoding="utf-8") as fh:
            rows = list(csv.reader(fh))
        rows[1][rows[0].index("body")] += " tampered"
        with open(f, "w", newline="", encoding="utf-8") as fh:
            csv.writer(fh, quoting=csv.QUOTE_ALL).writerows(rows)
    elif workload == "query_mix":
        f = sorted(glob.glob(os.path.join(run_dir, "warmup", "check", "q_*",
                                          "*.parquet")))[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(1), f)


def result_line(spec, trace, e2e, layer, attempted, failed):
    """The result object: BENCHMARK.json's end_to_end metrics (trace 0) or
    per_layer metrics (trace 1), each with its unit. A per-layer metric the
    workload does not report is 0 (its layer is not used); a reported name
    that BENCHMARK.json does not declare is an error."""
    want = spec["per_layer"] if trace else spec["end_to_end"]
    names = {m["name"] for m in want}
    have = dict(layer if trace else e2e)
    if trace:
        have = {n: have.get(n, 0.0) for n in names} | {
            k: v for k, v in have.items() if k not in names}
    if set(have) != names:
        fail(f"metrics {sorted(set(have) ^ names)} do not match "
             "BENCHMARK.json", 1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(have[m["name"]] or 0.0),
                                    "unit": m["unit"]} for m in want}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--get-delay-ms", type=float, default=1.0)
    ap.add_argument("--list-delay-ms", type=float, default=5.0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="tamper with one output (tests the checks)")
    args = ap.parse_args()

    build()
    spec = load_spec()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        inputs, small = os.path.join(work, "inputs"), os.path.join(work, "small")
        big_gen, small_gen = INPUTS[args.workload]
        big_gen(args.seed, inputs)
        small_gen(args.seed, small)
        gen_s = time.time() - t0

        res = run_jvm(args, work, inputs, small)
        if res is None:
            fail("the benchmark JVM failed (log above)", 1)
        if args.corrupt:
            corrupt_output(args.workload, work)
        att, bad, notes = ground_truth_checks(args.workload, work, inputs)
        attempted = int(res["attempted"]) + att
        failed = int(res["failed"]) + bad
        for n in list(res["notes"]) + notes:
            print(f"check failed: {n}", file=sys.stderr)

        e2e = dict(res["end_to_end"])
        e2e["setup_s"] = res["first_op_epoch_ms"] / 1e3 - t0
        layer = dict(res["per_layer"])
        layer["bench.fail_frac"] = failed / max(1, attempted)
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out", run_id)
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "run", "trace.json"), out_dir)
        print(json.dumps({"passes": res["passes"], "ops": res["ops"],
                          "pass_s": res["pass_s"],
                          "setup_s": e2e["setup_s"],
                          "warmup_s": res["warmup_s"],
                          "gen_s": gen_s}), file=sys.stderr)
        print(json.dumps(result_line(spec, args.trace, e2e, layer,
                                     attempted, failed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
