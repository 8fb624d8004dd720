#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <ingest|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program's main
sources and the harness (`perfbench/build.sbt` on the root build, sbt
offline); later calls reuse the build until a source file changes. Each
run starts a fresh JVM with `local[<cores>]` and a fixed heap, keeps every
file it writes (artifact cache, Spark local dir, Derby databases, sinks)
under `perfbench/work/<run>/` and deletes that directory on exit.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it is the
run's record (environment header, checks that failed, and for a traced
run the tracing overhead). With `--trace 1` the harness also attaches a
Spark listener and the metrics are the per-layer ones; the span tree is
written to `perfbench/records/`. The exit code is non-zero when any
correctness check fails or the run cannot complete.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("ingest", "catalog")
HEAP = "4g"
SF = "0.001"
DATA = os.path.join(HERE, "data", "sf" + SF)
EXPECTED = os.path.join(HERE, "expected_rows.json")
TARGET = os.path.join(HERE, "target")
RECORDS = os.path.join(HERE, "records")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(("%s:%d:%d\n" % (os.path.relpath(f, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile when the sources changed since the last build; return the
    runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"], BUILD_LIMIT_S,
                         cwd=HERE, env=env, stdout=out)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (exit %s), log in %s" % (code, log))
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def run_child(cmd, limit, **kw):
    """Run `cmd` in its own process group and wait for it; the group is
    killed after `limit` seconds or when this process is interrupted.
    Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def graft_entries(d):
    return sorted(os.path.basename(p)
                  for p in glob.glob(os.path.join(d, "graft_*")))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def cpu_times():
    """The host's CPU time counters (user ... steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else None


def revision():
    """The checkout's git commit, or a fingerprint of its sources when the
    checkout is not a git repository."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "tree:" + fingerprint()[:16]


def main():
    # a terminated run still kills its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="rewrite expected_rows.json from this checkout")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at %s; run from the root of a checkout"
             % os.path.join(ROOT, "src", "main", "scala"))
    if not os.path.isdir(DATA):
        fail("no input data at " + DATA)
    classpath = build()

    t_start = time.monotonic()
    tmp_before = len(graft_entries("/tmp"))
    load_before = os.getloadavg()
    cpu_before = cpu_times()
    run_id = "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(HERE, "work", run_id)
    raw = os.path.join(work, "raw.json")
    try:
        for d in ("tmp", "spark-local", "derby-home"):
            os.makedirs(os.path.join(work, d))
        cmd = (["java", "-Xmx" + HEAP] + ADD_OPENS + [
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "derby-home"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cores()), "--data", DATA, "--work", work,
            "--expected", EXPECTED, "--out", raw])
        if a.record_expected:
            cmd += ["--record-expected", EXPECTED]
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            code = run_child(cmd, RUN_LIMIT_S - (time.monotonic() - t_start),
                             cwd=ROOT, stdout=out)
        if code != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail("harness exited with %s" % code)
        if a.record_expected:
            print("wrote " + EXPECTED)
            return
        with open(raw) as f:
            rec = json.load(f)
        # the JVM's temporary files and directories go to <work>/tmp (the
        # artifact cache of the cold/warm queries has directories of its
        # own), so a graft_* entry left there is one the program did not
        # remove
        left = graft_entries(os.path.join(work, "tmp"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    new_in_tmp = len(graft_entries("/tmp")) - tmp_before

    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    if left:
        failed_checks.append({"name": "no graft_* temporary entries left",
                              "ok": False, "detail": ", ".join(left[:20])})
    if new_in_tmp > 0:
        failed_checks.append({"name": "no /tmp/graft_* entries added",
                              "ok": False,
                              "detail": "%d new entries" % new_in_tmp})
    leaked = bool(left) or new_in_tmp > 0
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"]) + leaked
    correct = not failed_checks and failed == 0

    e2e = metrics.end_to_end(rec)
    durs = [o["end"] - o["start"] for o in rec["ops"]]
    tail = metrics.highest_reportable(len(durs))
    header = {
        "revision": revision(), "nproc": cores(), "heap": HEAP,
        "spark": rec["spark_version"], "sf": SF, "seed": a.seed,
        "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "load_avg_before": load_before, "load_avg_after": os.getloadavg(),
        "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        "derby_durability": "default (log forced at commit)",
        "passes": len(rec["passes"]), "failed_ratio": failed / attempted,
        "setups_s": rec["setup_s"], "cold_setup_s": rec["setup_s"][0],
        "gc_collections": rec["collections"], "op_samples": len(durs),
        "op_tail": tail and {"p": tail, "s": metrics.percentile(durs, tail)},
        "input_prep_s": rec["ops"][0]["start"] - rec["measure_start"],
        "wall_s": time.monotonic() - t_start,
    }
    record = {"env": header, "end_to_end": e2e, "failed_checks": failed_checks,
              "errors": [o["name"] + ": " + o["error"]
                         for o in rec["ops"] if o["error"]]}
    os.makedirs(RECORDS, exist_ok=True)
    base = os.path.join(RECORDS, "%s-seed%d" % (a.workload, a.seed))
    if a.trace:
        layer = metrics.per_layer(rec)
        untraced = base + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                before = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - before[k] for k in e2e}
        with open(base + "-spans.json", "w") as f:
            json.dump({"env": header,
                       "spans": metrics.spans_with_self_time(rec),
                       "jobs": rec.get("jobs", []), "ops": rec["ops"]}, f)
        out = {k: {"value": v, "unit": metrics.unit(k)}
               for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": metrics.END_TO_END_UNITS[k]}
               for k, v in e2e.items()}
    print(json.dumps({"record": record}))
    record["ops"] = rec["ops"]
    with open(base + "-trace%d.json" % a.trace, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
