#!/usr/bin/env python3
"""Benchmark runner for the graft streaming-ETL engine.

Builds the engine and the harness from source (once per source state),
runs one workload in a fresh JVM and prints, as the last stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics, taken from a traced run that is paired
with an untraced one (the difference is reported as tracing overhead).

Usage (from the repository root):
  python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --record-golden DUMP_DIR   # see perfbench/README.md
"""
import argparse
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
WORKLOADS = ("stream_steady", "stream_backfill", "batch_suite")
# Every run must end within this many seconds, builds excluded.
RUN_BUDGET_S = 170.0
# The local[1] backfill run of a traced run starts only with this much
# of the budget left (it takes ~30 s at --seconds 10 on a 4-core host).
LOCAL1_MIN_S = 60.0
HEAP = "-Xmx3g"
GOLDEN = os.path.join(HERE, "golden", "batch_suite_sf0.1.tsv")
# The suite's read-only sf0.1 fixture; PERFBENCH_SF_DIR points elsewhere.
SF_DIR = os.environ.get("PERFBENCH_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_files():
    """Every input of the build: the engine's and the harness's."""
    files = []
    for base, subdirs in ((ROOT, ("src/main", "project")), (HERE, ("src/main", "project"))):
        for sub in subdirs:
            for d, dirs, names in os.walk(os.path.join(base, sub)):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        files.append(os.path.join(base, "build.sbt"))
    return sorted(f for f in files if os.path.isfile(f))


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    return env


def ensure_built():
    """Compile with sbt when any source changed; return (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to perfbench/ (expected ../build.sbt and ../src)")
        sys.exit(2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(build_dir(), exist_ok=True)
        blog = os.path.join(build_dir(), "perfbench-build.log")
        log(f"building (log: {blog})")
        t0 = time.time()
        with open(blog, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if rc != 0 or not os.path.exists(launch):
            with open(blog) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            log(f"build failed (rc={rc})")
            sys.exit(1)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")
    cp, opts = [], []
    for line in open(launch).read().splitlines():
        kind, _, value = line.partition(" ")
        (cp if kind == "cp" else opts).append(value)
    opts = [o for o in opts if not o.startswith("-Xmx")]
    return cp, opts


def run_jvm(launch, args, work, deadline):
    """One harness JVM; returns its result dict, or None if it failed."""
    cp, opts = launch
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
           + opts + ["-cp", os.pathsep.join(cp), "graftbench.Main"]
           + args + ["--work", work, "--out", out])
    jlog = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(jlog, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    log(f"JVM exited rc={rc} after {time.time() - t0:.1f}s: {' '.join(args[:2])}")
    if rc != 0 or not os.path.exists(out):
        with open(jlog, errors="replace") as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-30:]))
        log(f"harness JVM failed (rc={rc}): {' '.join(args)}")
        return None
    with open(out) as fh:
        res = json.load(fh)
    if os.path.exists(out + ".spans.json"):
        res["spans_file"] = out + ".spans.json"
    return res


def keep_artifact(res, name):
    """Keep the run's record (stamp, figures, detail, spans) in the build dir."""
    d = os.path.join(build_dir(), "perfbench-artifacts")
    os.makedirs(d, exist_ok=True)
    spans = res.pop("spans_file", None)
    if spans:
        shutil.copy(spans, os.path.join(d, name + ".spans.json"))
    with open(os.path.join(d, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)


def pct(a, b):
    return (a / b - 1.0) * 100.0 if b else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", metavar="DUMP_DIR")
    a = ap.parse_args()
    t_start = time.time()

    if a.selftest:
        ensure_built()
        sys.exit(subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                                 cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL))
    launch = ensure_built()
    # A run's budget starts after the (one-off) build.
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(build_dir(), "perfbench-work")
    if a.record_golden:
        res = run_jvm(launch, ["--record-golden", os.path.abspath(a.record_golden),
                               "--golden", GOLDEN], work, time.time() + 900)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(0 if res is not None else 1)
    if not a.workload:
        ap.error("--workload is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    nproc = os.cpu_count() or 1
    base = ["--workload", a.workload, "--seed", str(a.seed),
            "--golden", GOLDEN, "--sf", SF_DIR]

    def run(trace, cores, tag, seconds=a.seconds):
        res = run_jvm(launch, base + ["--seconds", str(seconds), "--trace", str(trace),
                                      "--cores", str(cores)], work, deadline)
        if res is None:
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(1)
        keep_artifact(res, f"{a.workload}-seed{a.seed}-{tag}")
        return res

    if a.trace == 0:
        res = run(0, nproc, "untraced")
        runs = [res]
        values = dict(res["e2e"])
        wanted = spec["end_to_end"]
    else:
        plain = run(0, nproc, "untraced")
        res = run(1, nproc, "traced")
        runs = [plain, res]
        values = dict(res["layer"])
        values["trace.overhead_cpu_pct"] = pct(res["e2e"]["cpu_s"], plain["e2e"]["cpu_s"])
        values["trace.overhead_latency_pct"] = pct(res["e2e"]["latency_p50_ms"],
                                                   plain["e2e"]["latency_p50_ms"])
        if a.workload == "stream_backfill" and deadline - time.time() < LOCAL1_MIN_S:
            log("no time left in this run for the local[1] comparison")
        elif a.workload == "stream_backfill":
            # local[1] drains only the first batches (a shorter run) and is
            # compared with the same first batches of the untraced run.
            single = run(0, 1, "local1", seconds=max(1, a.seconds // 3))
            runs.append(single)
            n = len(single["detail"]["per_batch_ms"])
            first = sum(plain["detail"]["per_batch_ms"][:n])
            values["scaling.backfill_vs_local1"] = (
                sum(single["detail"]["per_batch_ms"]) / first)
        wanted = spec["per_layer"]
    shutil.rmtree(work, ignore_errors=True)

    stamp = dict(res["stamp"], run_s=round(time.time() - t_start, 3))
    print(json.dumps({"perfbench_stamp": stamp}, sort_keys=True))
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        # A layer the workload does not pass through did no work: 0.
        metrics[m["name"]] = {"value": float(v) if v is not None else 0.0,
                              "unit": m["unit"]}
    correct = all(r["correct"] for r in runs)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
