#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and graft
with sbt (offline) into perfbench/target and ./target; later runs reuse the
build while the sources are unchanged. Each run generates its fixture from
the seed under .bench_build/, starts one JVM on local[<cores>], checks every
query of the workload against the DuckDB oracle (tools/local_verify.py) and
every timed execution against the oracle-checked checksum, and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. See
perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
JAVA_OPTS = os.path.join(TARGET, "bench-javaopts.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 150
# The harness JVM lives about a minute and its queries are dominated by
# per-query planning and freshly generated classes, so C1-only compilation
# reaches steady code quickly instead of measuring C2's warm-up; the
# parallel collector runs no concurrent GC threads beside the task threads.
JVM_FLAGS = ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC"]

# a checkout missing any of these cannot be built or checked
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/local_verify.py"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child to completion; on timeout kill it and wait for it."""
    p = subprocess.Popen(cmd, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise
    return p.returncode


def build():
    stamp = source_stamp()
    if (os.path.isfile(CLASSPATH) and os.path.isfile(STAMP)
            and open(STAMP).read() == stamp):
        return
    log("building graft and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {rc}); see .bench_build/build.log", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_check(fixture_dir, dump_dir):
    """{query: ok?} from tools/local_verify.py over the warm pass's dump."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
                          fixture_dir, dump_dir], capture_output=True, text=True,
                         timeout=JVM_TIMEOUT_S, stdin=subprocess.DEVNULL)
    verdict = {}
    for line in res.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0] == "OK"
            if parts[0] == "FAIL":
                log(line.strip())
    return verdict


def write_trace(raw, path):
    """One JSON line per span: run id, span id, parent, kind, name, start and
    end (epoch microseconds), and the counters attributed to it."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for s in raw["spans"]:
            fh.write(json.dumps(dict(run=raw["run_id"], **s)) + "\n")
    os.replace(tmp, path)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)})", 2)
    build()

    wl = WORKLOADS[args.workload]
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # set-up starts here: fixture generation, JVM and session start,
        # artifact builds and the warm pass, up to the first timed pass
        t0 = time.time()
        fx = os.path.join(work, "fixture")
        fixture.write(fixture.tables(args.seed, wl["scale"]), fx)

        raw_path = os.path.join(work, "raw.json")
        cmd = (["java"] + open(JAVA_OPTS).read().split() + JVM_FLAGS + ["-cp", open(CLASSPATH).read().strip(),
               "graftbench.Harness",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--fixture", fx, "--work", work, "--out", raw_path, "--cpus", str(cores()),
               "--queries", ",".join(wl["queries"]), "--artifacts", ",".join(wl["artifacts"])])
        with open(os.path.join(work, "jvm.log"), "w") as out:
            try:
                rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, stdout=out,
                                 stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            except subprocess.TimeoutExpired:
                fail("harness timed out", 4)
        if rc != 0 or not os.path.isfile(raw_path):
            os.makedirs(BUILD, exist_ok=True)
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, "last-failed-jvm.log"))
            fail(f"harness failed (exit {rc}); see .bench_build/last-failed-jvm.log", 4)
        with open(raw_path) as fh:
            raw = json.load(fh)
        setup_s = raw["first_pass_start_us"] / 1e6 - t0

        t_jvm = time.time()
        verdict = oracle_check(fx, os.path.join(work, "dump"))
        bad = {q for q in wl["queries"] if not verdict.get(q, False)}
        for q, err in raw["dump_errors"].items():
            log(f"warm pass: {q} {err}")
        for s in raw["samples"]:
            if s["status"] != "ok":
                log(f"pass {s['pass']}: {s['query']} {s['status']}")
        attempted = len(raw["samples"])
        failed = sum(1 for s in raw["samples"] if s["status"] != "ok" or s["query"] in bad)

        e2e, info = metrics.end_to_end(raw, setup_s)
        q1, med, q3 = info["pass_quartiles"]
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cores={raw['cpus']} "
              f"queries={len(wl['queries'])} passes={info['passes']} "
              f"pass_s median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"query_p50_s={info['query_p50_s']:.4f} over {info['query_samples']} samples oracle={'FAIL' if bad else 'ok'} "
              f"fail_ratio={failed / max(attempted, 1):.4f} "
              f"wall={time.time() - t0:.1f}s (oracle check {time.time() - t_jvm:.1f}s)")
        if args.trace:
            values, units = metrics.per_layer(raw), metrics.LAYER_UNITS
            write_trace(raw, os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            values, units = e2e, metrics.E2E_UNITS
        result = {
            "correct": not bad and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
