#!/usr/bin/env python3
"""Benchmark of the graft engine's batch workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source (sbt, offline), generates the workload's inputs from the seed,
launches the harness JVM directly on the exported classpath (three set-ups
are timed per run; one or two of those JVMs then run the passes), checks
every query's output against its DuckDB oracle, and prints every metric by
name and unit. The last line of stdout is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones; with --trace 1, the per-layer ones from a traced run. The
full record of a run, every sample included, is written under
.bench_build/results/.

The load is a closed loop with one client: one query at a time on
local[N], N = the cores this process may use.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
XMX = "3g"
# A fixed young generation: with G1 sizing it adaptively, a pass's peak RSS
# followed how far the heap happened to grow (spread 0.2 over seeds); with
# it fixed, the peak follows what the queries keep live.
XMN = "512m"
SETUPS = 3  # JVM set-ups timed per run (run JVMs included); the median is reported
PASSES = 2  # measured warm passes per run JVM, at least
BUILD_TIMEOUT_S = 700
DEADLINE_S = 170  # for everything after the build

# Each workload is a fixed list of registry queries over seeded inputs.
# `tables` are the inputs the queries read (rows); `samples` are small
# tables only the traced run's kernel timings read. The lists and sizes are
# small because a pass costs per-query JIT, codegen and job overhead more
# than data, and a whole run (three JVM set-ups, cold pass, warm passes,
# check pass) has to stay near a minute.
#
# `jvms` fresh JVMs each run a cold pass, `warmup` passes no metric reads,
# and PASSES measured warm passes (more if their share of --seconds is not
# yet measured); their measured passes are pooled. Warm passes still ride
# the JIT curve (HotSpot's compiler threads use about half the CPU of a
# pass), and how fast a JVM walks down it varies from JVM to JVM.
# neardup_search levels off after a pass or two, so it skips one;
# events_report, whose driver-side construction warms over ten passes and
# more, pools two JVMs instead. The other set-ups of a run are timed in
# JVMs that exit once ready.
WORKLOADS = {
    "events_report": {
        "why": "the paper's own job (spec-version select, JSON shred, completeness "
               "report), spec given as a frame and as CSV; construction-heavy, no llm code",
        "queries": ["q06_events_report", "q08_events_report_csv_spec"],
        "jvms": 2,
        "warmup": 0,
        "tables": {"events": 20_000},
        "samples": {"documents": 500},
    },
    "neardup_search": {
        "why": "execution-bound filter-and-refine in llm: MinHash near-dup over a "
               "persisted index plus delta, and IVF-PQ search over an index built cold",
        "queries": ["q41_incremental_neardup", "q16i_ann_ivf_pq_indexed"],
        "jvms": 1,
        "warmup": 1,
        "tables": {"documents": 1000, "embeddings": 2000},
        "samples": {"events": 2000},
    },
}

# Spark on JDK 17 needs these when launched outside spark-submit (the root
# build.sbt passes the same list to forked runs).
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_digest():
    """Digest of every build input in the checkout: the root build, the
    engine's main sources and the harness."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"), HARNESS):
        for dirpath, dirnames, names in os.walk(top):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")
                           or (d == "project" and dirpath == HARNESS)]
            files += [os.path.join(dirpath, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness with sbt once per source digest; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise BenchError(f"sbt build failed (exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def inputs(workload, seed):
    """Generate (once per seed) the workload's input tables."""
    w = WORKLOADS[workload]
    sizes = dict(w["samples"], **w["tables"])
    key = hashlib.sha256(json.dumps([sizes, seed], sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"{workload}-s{seed}-{key}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        info = gen.write(seed, sizes, d)
        with open(meta, "w") as f:
            json.dump(info, f)
    with open(meta) as f:
        return d, key, json.load(f)


class Jvm:
    """One harness JVM, with `home` as its working directory and the parent
    of its tmp, Spark local and index directories. Its set-up time is
    measured from launch to the PERFBENCH_READY line."""

    def __init__(self, cp, home, args, deadline):
        for sub in ("tmp", "local", "pqidx"):
            os.makedirs(os.path.join(home, sub), exist_ok=True)
        env = dict(os.environ,
                   SPARK_GRAFT_PQIDX_DIR=os.path.join(home, "pqidx"),
                   SPARK_LOCAL_DIRS=os.path.join(home, "local"))
        cmd = ["java", f"-Xmx{XMX}", f"-Xmn{XMN}", *ADD_OPENS,
               f"-Djava.io.tmpdir={os.path.join(home, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Harness", *args]
        self.stderr_path = os.path.join(home, "jvm.stderr")
        self.stderr = open(self.stderr_path, "a")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=home, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.stderr, text=True)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.proc.kill)
        self.timer.daemon = True
        self.timer.start()
        self.wait_for("PERFBENCH_READY")
        self.setup_s = time.perf_counter() - t0

    def wait_for(self, marker):
        for line in self.proc.stdout:
            if line.strip() == marker:
                return
        self.wait()
        raise BenchError(f"harness JVM ended before {marker}")

    def wait(self):
        try:
            for _ in self.proc.stdout:
                pass
            code = self.proc.wait()
        finally:
            self.stop()
        if code != 0:
            with open(self.stderr_path) as f:
                tail = f.read()[-3000:]
            raise BenchError(f"harness JVM exited with {code}:\n{tail}")

    def resume(self):
        self.proc.stdin.write("\n")
        self.proc.stdin.close()

    def stop(self):
        """Kill the JVM if it still runs and wait until it has ended."""
        self.timer.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.stderr.close()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run(args):
    w = WORKLOADS[args.workload]
    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    data_dir, data_key, table_info = inputs(args.workload, args.seed)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # A traced run's spans and jobs come from one JVM.
    jvms = 1 if args.trace else w["jvms"]
    j = None
    try:
        common = ["--data", data_dir, "--tables", ",".join(sorted(w["tables"])),
                  "--cores", str(cores())]
        setups, results = [], []
        for i in range(SETUPS - jvms):
            j = Jvm(cp, os.path.join(run_dir, f"setup{i}"), ["--mode", "setup", *common],
                    deadline)
            j.wait()
            setups.append(j.setup_s)
            log(f"set-up {j.setup_s:.2f} s")
        for i in range(jvms):
            # Each run JVM has its own directories, so none reads an index
            # or artifact another one built; the last one runs the check.
            jvm_dir = os.path.join(run_dir, f"jvm{i}")
            last = i == jvms - 1
            out = os.path.join(jvm_dir, "harness.json")
            check_dir = os.path.join(jvm_dir, "check") if last else ""
            j = Jvm(cp, jvm_dir, ["--mode", "run", *common, "--queries", ",".join(w["queries"]),
                                  "--warmup", str(w["warmup"]), "--passes", str(PASSES),
                                  "--seconds", str(args.seconds / jvms),
                                  "--trace", str(args.trace), "--seed", str(args.seed),
                                  "--out", out, "--check", check_dir], deadline)
            setups.append(j.setup_s)
            t = time.monotonic()
            j.wait_for("PERFBENCH_TIMED")
            log(f"set-up {j.setup_s:.2f} s, timed passes {time.monotonic() - t:.1f} s")
            if not last:
                j.resume()
                j.wait()
                with open(out) as f:
                    results.append(json.load(f))
                continue
            with open(out + ".oracle") as f:
                oracle_sql = json.load(f)
            snapshot = os.path.join(jvm_dir, "snapshot")
            if os.path.isdir(os.path.join(jvm_dir, "target")):
                shutil.copytree(os.path.join(jvm_dir, "target"), os.path.join(snapshot, "target"))
            j.resume()
            oracle_args = (data_dir, oracle_sql, jvm_dir, os.path.join(BUILD, "oracle"),
                           f"{args.workload}-{data_key}")
            t = time.monotonic()
            oracle.precompute(*oracle_args, snapshot)
            t_oracle = time.monotonic() - t
            j.wait()
            log(f"oracles {t_oracle:.1f} s, output check pass {time.monotonic() - t:.1f} s")
            with open(out) as f:
                results.append(json.load(f))
            checks = oracle.check(check_dir, *oracle_args)
    finally:
        if j is not None:
            j.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    harness = metrics.merge_jvms(results)
    harness["oracle_sql"] = oracle_sql
    return harness, setups, checks, table_info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("run from the root of an engine checkout (build.sbt and src/main/scala)")
        return 2
    try:
        harness, setups, checks, table_info = run(args)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"failed: {e}")
        return 1

    w = WORKLOADS[args.workload]
    wrong = sorted(q for q, (ok, _, _) in checks.items() if not ok)
    errored = {(e["query"], e["pass"]) for e in harness["errors"]}
    failed = len(harness["errors"]) + sum(1 for q in wrong if (q, "check") not in errored)
    attempted = harness["attempted"]
    own = {t: table_info[t] for t in w["tables"]}
    result_rows = {q: rows for q, (_, rows, _) in checks.items()}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        values = metrics.per_layer(harness, sum(t["bytes"] for t in own.values()),
                                   result_rows)
    else:
        values = metrics.end_to_end(harness, setups, sum(t["rows"] for t in own.values()))
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in declared}

    record = {
        "workload": args.workload, "why": w["why"], "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "git_commit": git_commit(),
        "nproc": os.cpu_count(), "cores_used": harness["cores"], "xmx": XMX, "xmn": XMN,
        "max_heap_bytes": harness["max_heap_bytes"], "jvm": harness["jvm"],
        "spark": harness["spark"], "python": platform.python_version(),
        "inputs": table_info, "workload_tables": sorted(w["tables"]),
        "queries": w["queries"], "setup_samples_s": setups,
        "pass_samples": [{k: p[k] for k in ("jvm", "kind", "traced", "s")}
                         for p in harness["passes"]],
        "failed_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "errors": harness["errors"],
        "checks": {q: {"ok": ok, "rows": n, "detail": msg} for q, (ok, n, msg) in checks.items()},
        "metrics": out_metrics, "harness": harness,
    }
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    res_path = os.path.join(
        res_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(res_path, "w") as f:
        json.dump(record, f)

    print(f"workload {args.workload}  seed {args.seed}  cores {harness['cores']}  "
          f"-Xmx{XMX} -Xmn{XMN}  passes {len(harness['passes'])}  "
          f"record {os.path.relpath(res_path, ROOT)}")
    for n, m in out_metrics.items():
        print(f"  {n:<22} {m['value']:>14.6g} {m['unit']}")
    print(f"  {'failed_frac':<22} {failed / attempted:>14.6g} share "
          f"({failed} of {attempted} query executions)")
    for q, (ok, n, msg) in sorted(checks.items()):
        if not ok:
            print(f"  check {q}: {msg}")
    print(json.dumps({"correct": not wrong and not harness["errors"], "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
