#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one workload per call.

    python3 perfbench/run.py --workload sensor_batch --seed 1 --seconds 10 --trace 0

Builds the program from source (build.py), generates the workload's inputs
from the seed (gen.py), computes or loads the oracle digests (oracle.py),
then times the workload in one JVM with a pinned heap and a local[4]
session (scala/Main.scala) and checks the outputs of its last pass. The
last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and the `end_to_end` metrics of BENCHMARK.json (or, with --trace 1, its
`per_layer` metrics). See README.md for the workloads and metrics.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT = 150


def jvm(classes, run_dir, args, log):
    """Run perfbench.Main; return (launch time, stdout lines)."""
    tmp = os.path.join(run_dir, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           "-cp", build.classpath(classes), "perfbench.Main", *args]
    with open(log, "a") as err:
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           cwd=run_dir, timeout=JVM_TIMEOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    return t0, r.stdout.splitlines()


def steal_jiffies():
    """Machine-wide CPU time stolen by the hypervisor (for the log only)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def setup_seconds(t0, lines):
    micros = next(int(l.split()[1]) for l in lines if l.startswith("PB_SETUP "))
    return micros / 1e6 - t0


def perturb(out, op):
    """Change one value of `op`'s output (used to show the checks bite)."""
    import pyarrow.parquet as pq
    path = next(p for p in sorted(glob.glob(os.path.join(out, op, "*.parquet")))
                if pq.read_metadata(p).num_rows > 0)
    t = pq.read_table(path)
    i = next(i for i, f in enumerate(t.schema) if str(f.type) in ("double", "int64", "int32"))
    col = t.column(i).to_pylist()
    col[0] = (col[0] or 0) + 1
    pq.write_table(t.set_column(i, t.schema[i], [col]), path)
    print(f"perturbed {op}.{t.schema[i].name} row 0", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", metavar="OP",
                    help="alter one value of OP's output before the check (self-test)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    classes = build.build()
    ref = oracle.expected(a.workload, a.seed, classes)
    data = oracle.data_dir(a.workload, a.seed)

    run_dir = os.path.join(ROOT, ".perfbench", "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(run_dir, "jvm.log")

    steal0 = steal_jiffies()
    t0, lines = jvm(classes, run_dir, ["run", a.workload, data, run_dir,
                                      str(a.seconds), str(a.trace)], log)
    steal = (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    res = json.loads(next(l for l in lines if l.startswith("PB_RESULT "))[len("PB_RESULT "):])
    shutil.rmtree(os.path.join(run_dir, "scratch"), ignore_errors=True)

    out = os.path.join(run_dir, "out")
    if a.perturb:
        perturb(out, a.perturb)
    fails = oracle.verify(a.workload, data, out, ref)
    for msg in fails:
        print(f"CHECK FAILED {msg}", file=sys.stderr)

    e2e = dict(res["e2e"], setup_s=setup_seconds(t0, lines))
    print(f"[perfbench] {a.workload} seed={a.seed} passes={res['passes']} steal_s={steal:.1f} "
          f"e2e={e2e} ops={res['ops']}", file=sys.stderr)
    kind = "per_layer" if a.trace else "end_to_end"
    source = res["layers"] if a.trace else e2e
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
