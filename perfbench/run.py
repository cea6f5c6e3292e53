#!/usr/bin/env python3
"""The repository's benchmark: two cold workloads against the compiled program.

    python3 perfbench/run.py --workload <ingest|night-job>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. Each workload run launches fresh JVMs with
the JVM options the root build.sbt gives a forked run, on local[nproc]:
two that only build the session (set-up samples), then one that times the
workload's one unit of work. --seconds is accepted but does not change a
run: each workload's unit runs once, cold, whatever its length.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics, with --trace 1 the per-layer metrics. The lines
before it print every metric by name with its unit. perfbench/README.md
documents the workloads and metrics.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The heap every workload JVM gets (build.sbt reads SPARK_DRIVER_MEM).
HEAP = "4g"
# A run's JVMs and checks must end this long after the build.
RUN_LIMIT_S = 170
# JVMs that only build the session before the workload's JVM, so setup_s is
# the median of this many samples plus the workload JVM's own.
SETUP_JVMS = 2


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d == ROOT)
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness; return (classpath, jvm options)."""
    os.makedirs(WORK, exist_ok=True)
    spec = os.path.join(WORK, "launch.txt")
    stamp = source_stamp()
    if not (os.path.exists(spec) and open(spec).readline().strip() == f"stamp={stamp}"):
        env = dict(os.environ, COURSIER_MODE="offline",
                   SPARK_GRAFT_TMP=os.path.join(WORK, "tmp"),
                   SPARK_GRAFT_SPILL=os.path.join(WORK, "spill"),
                   SPARK_DRIVER_MEM=HEAP)
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                 cwd=os.path.join(HERE, "harness"), env=env,
                                 stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (sbt exit {rc}); log in {log}")
        with open(os.path.join(HERE, "harness", "target", "launch.txt")) as f:
            body = f.read()
        with open(spec, "w") as f:
            f.write(f"stamp={stamp}\n{body}")
    cp, opts = None, []
    for line in open(spec).read().splitlines()[1:]:
        k, _, v = line.partition("=")
        if k == "classpath":
            cp = v
        elif k == "jvm":
            opts.append(v)
    return cp, opts


class Launcher:
    """Starts harness JVMs for one benchmark run, each in its own scratch
    directory inside the checkout (java.io.tmpdir, spark.local.dir and the
    Derby home point there, not at build.sbt's /dev/shm and /tmp paths)."""

    def __init__(self, classpath, jvm_opts, run_dir, deadline):
        self.cp, self.opts, self.run_dir, self.deadline = classpath, jvm_opts, run_dir, deadline
        self.n = 0

    def __call__(self, workload, trace, **kw):
        self.n += 1
        jdir = os.path.join(self.run_dir, f"jvm{self.n}")
        tmp = os.path.join(jdir, "tmp")
        os.makedirs(tmp)
        out = os.path.join(jdir, "result.json")
        args = {"workload": workload, "trace": trace,
                "out": out, "work": os.path.join(jdir, "work"),
                "check": os.path.join(jdir, "check"), **kw}
        cmd = (["java"] + self.opts +
               [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={jdir}/derby",
                f"-Dspark.local.dir={jdir}/spill", "-cp", self.cp, "perfbench.Harness"] +
               [x for k, v in args.items() for x in (f"--{k}", str(v))])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(metrics.nproc()),
                   SPARK_LOCAL_DIRS=os.path.join(jdir, "spill"))
        launched_us = time.time() * 1e6
        with open(os.path.join(jdir, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=jdir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{workload} JVM exceeded the run's time limit; log in {jdir}/jvm.log")
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(jdir, "jvm.log")).read()[-4000:])
            fail(f"{workload} JVM exited {rc} without a result")
        with open(out) as f:
            res = json.load(f)
        res["launched_us"] = launched_us
        res["dir"] = jdir
        return res


def save(a, report, jvms):
    """Keep the run's figures (for perfbench/stats.py) and, when traced, its
    spans, one JSON object per line."""
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(WORK, "results", name + ".json"), "w") as f:
        json.dump({k: v for k, v in report.items() if k != "lines"}, f)
    if a.trace:
        path = os.path.join(WORK, "traces", name + ".spans.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in metrics.span_records(jvms))
        report["lines"].append(f"  spans written to {os.path.relpath(path, ROOT)}")


def main(argv):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--keep", action="store_true", help="keep the run's scratch directory")
    a = p.parse_args(argv)

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    import checks  # imports tools/check.py, present only in a repository checkout

    cp, opts = build()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    launch = Launcher(cp, opts, run_dir, time.time() + RUN_LIMIT_S)
    try:
        w = WORKLOADS[a.workload]
        inputs = w.inputs(a.seed, os.path.join(WORK, "inputs"))
        jvms = [launch("setup", a.trace) for _ in range(SETUP_JVMS)]
        jvms += w.run(launch, a.trace, inputs)
        outcome = checks.check(a.workload, jvms, inputs)
        report = metrics.report(a.workload, jvms, inputs, outcome, a.trace)
        save(a, report, jvms)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main(sys.argv[1:])
