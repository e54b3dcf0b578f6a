#!/usr/bin/env python3
"""Run one perfbench workload against graft, built from source.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run it from the root of a graft checkout. The benchmark is an sbt build
of its own (perfbench/build.sbt) that compiles graft through the
repository's own build. The first run builds both and stamps the sources
it built from; later runs with the same sources start the JVM directly.

Human-readable lines come first. The last line of standard output is
one JSON object: correct, attempted, failed and metrics, where the
metrics are BENCHMARK.json's end_to_end list (--trace 0) or its
per_layer list (--trace 1). Everything the run writes goes under
.bench_build/ in the checkout and is removed afterwards, apart from the
build and the span files of traced runs.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nested_functionise", "curation_batch", "stream_gate")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP = "-Xmx3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: graft's build and main sources, and
    the benchmark's own build and sources."""
    pats = [
        (ROOT, "build.sbt"), (ROOT, "project/*.properties"),
        (ROOT, "project/*.sbt"), (ROOT, "project/*.scala"),
        (ROOT, "src/main/**/*"),
        (HERE, "build.sbt"), (HERE, "project/*.properties"),
        (HERE, "project/*.sbt"), (HERE, "src/**/*"),
    ]
    files = set()
    for base, pat in pats:
        for p in glob.glob(os.path.join(base, pat), recursive=True):
            if os.path.isfile(p):
                files.add(os.path.relpath(p, ROOT))
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def ensure_built():
    """Build if the sources changed since the last build; return the
    launch line: the runtime classpath and graft's JVM options."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} missing): run from the "
                 "root of a graft checkout")
    files = build_inputs()
    digest = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    launch_file = os.path.join(BUILD, "launch.txt")
    if (os.path.isfile(launch_file) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == digest):
        return open(launch_file).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    print(f"perfbench: building graft and the benchmark ({len(files)} "
          "source files)", file=sys.stderr)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeLaunch"], BUILD_TIMEOUT_S,
                         cwd=HERE, env=sbt_env(), stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {BUILD}/build.log", 3)
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch_file)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return open(launch_file).read().splitlines()


def java_cmd(launch, work, args):
    classpath, opts = launch[0], [o for o in launch[1:] if o]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    local = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    props = [
        HEAP,
        f"-Djava.io.tmpdir={local}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-Dspark.driver.host=localhost",
        "-Dspark.driver.bindAddress=127.0.0.1",
    ]
    return (["java"] + opts + props + ["-cp", classpath, "perfbench.Main"]
            + args)


def run_jvm(launch, workload, seed, seconds, trace, trace_out):
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", os.path.join(work, "data")]
    if trace_out:
        args += ["--trace-out", trace_out]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(work, "stderr.txt")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_group(java_cmd(launch, work, args), RUN_TIMEOUT_S,
                             cwd=work, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        lines = open(out_path).read().splitlines()
        if code != 0:
            tail = open(err_path).read().splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            fail("timed out" if code is None else f"JVM exited {code}", 1)
        found = [l for l in lines if l.startswith("PERFBENCH ")]
        if not found:
            fail("the JVM printed no result", 1)
        return json.loads(found[-1][len("PERFBENCH "):])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_one(launch, spec, workload, seed, seconds, trace):
    """Run one workload; print its report lines and return its result."""
    trace_out = None
    if trace:
        trace_out = os.path.join(BUILD, "traces", f"{workload}-s{seed}.json")
    res = run_jvm(launch, workload, seed, seconds, trace, trace_out)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["values"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} was not measured", 1)
            v = 0.0  # this workload does not exercise the layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for line in res["report"]:
        print(line)
    if trace_out:
        print(f"spans written to {os.path.relpath(trace_out, ROOT)}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    return {"correct": failed == 0 and attempted >= 1,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",),
                    help="one workload, or 'all' for each in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that planted output corruptions are caught")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(bench_path))
    launch = ensure_built()
    if a.self_test:
        res = run_jvm(launch, "self_test", a.seed, a.seconds, False, None)
        print("\n".join(res["report"]))
        sys.exit(0 if res["failed"] == 0 else 1)
    if a.workload == "all":
        ok = True
        for w in spec["workloads"]:
            res = run_one(launch, spec, w["name"], a.seed, a.seconds,
                          bool(a.trace))
            print(json.dumps(res))
            ok = ok and res["correct"]
        sys.exit(0 if ok else 1)
    print(json.dumps(run_one(launch, spec, a.workload, a.seed, a.seconds,
                             bool(a.trace))))


if __name__ == "__main__":
    main()
