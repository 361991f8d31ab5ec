#!/usr/bin/env python3
"""The engine's benchmark: seeded workloads, each run in a fresh JVM on
local[nproc] as one closed-loop client, with every output checked against
the DuckDB oracle.

    python3 perfbench/run.py --workload gmall_batch --seed 1 --trace 0
    python3 perfbench/run.py                  # every workload: a metric table

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/harness, sbt, offline) into the checkout; later runs
reuse the build while the sources are unchanged. Everything the benchmark
writes goes under .bench_build/. The last line of standard output is one
JSON object: correct, attempted, failed and the metrics (the end-to-end
ones with --trace 0, the per-layer ones with --trace 1). The full record,
stamped with the host, versions, settings and seed, and with the spans of
a traced run, is written to .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
LAUNCH_ARGS = os.path.join(HARNESS, "target", "launch-args.txt")
RUN_TIMEOUT_S = 160
STEAL_RETRY_SHARE = 0.05

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_files():
    """The files the build reads: the engine's and the harness's."""
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                  if os.path.isfile(f))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def built():
    """The launch arguments exist and their classpath holds the harness."""
    if not os.path.exists(LAUNCH_ARGS):
        return False
    with open(LAUNCH_ARGS) as f:
        args = f.read().splitlines()
    cp = args[args.index("-cp") + 1].split(os.pathsep)
    return any(os.path.exists(os.path.join(p, "perfbench", "Harness.class")) for p in cp)


def build():
    """Compile engine and harness unless the sources are unchanged since
    the last build; returns the source fingerprint."""
    files = source_files()
    if not any(f.endswith("SparkEntry.scala") for f in files):
        fail("engine sources not found: run from the root of a checkout")
    fp = fingerprint(files)
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and built():
        with open(stamp) as f:
            if f.read() == fp:
                return fp
    log("perfbench: building engine and harness (sbt)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(LAUNCH_ARGS):
        log(r.stdout[-4000:])
        fail("build failed")
    log(f"perfbench: built in {time.time() - t0:.0f}s")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp)
    return fp


def steal_s():
    """CPU time the hypervisor gave to other guests since boot, all CPUs
    (Linux; 0 elsewhere)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_stamp():
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "steal_s": steal_s(),
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def account(record, causes):
    """(attempted, failed) over the timed ops. An op fails when it threw,
    or when its query threw or gave a wrong output in the warm pass:
    `causes` maps such queries to the cause."""
    timed = {str(p["pass"]) for p in record["passes"]}
    ops = [o for o in record["ops"] if o["pass"] in timed]
    return len(ops), sum(1 for o in ops if o["error"] or o["name"] in causes)


def run_workload(name, seed, seconds, trace, spec, fp, inject_wrong=None):
    """One run: generate inputs, run the harness JVM, check outputs,
    compute metrics. Returns the full record."""
    w = spec["workloads"][name]
    stamp_start = host_stamp()
    cpus = os.cpu_count()
    partitions = w["state_partitions"] or cpus
    data = os.path.join(BUILD, "data", f"seed-{seed}")
    gen.generate(seed, data, w["tables"], spec["inputs"])
    with open(LAUNCH_ARGS) as f:
        jvm = [line for line in f.read().splitlines() if line]

    def launch(out, timeout):
        """One harness JVM writing into `out`; the share of the host's CPU
        time other guests took while it ran."""
        for sub in ("replay", "tmp"):
            os.makedirs(os.path.join(out, sub), exist_ok=True)
        cmd = (["java"] + jvm +
               # a fixed heap: G1 then sizes it the same way in every run, so
               # peak RSS moves with the engine's native memory, not with heap
               # resizing (heap use is the per-layer jvm.heap_peak_mb)
               [f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={out}/tmp",
                f"-Dgraft.replay.tmpdir={out}/replay",
                "perfbench.Harness", "--input", data, "--ops", ",".join(w["ops"]),
                "--out", out, "--seconds", str(seconds), "--trace", str(trace),
                "--cpus", str(cpus), "--partitions", str(partitions)])
        if inject_wrong:
            cmd += ["--inject-wrong", inject_wrong]
        s0, t0 = steal_s(), time.time()
        with open(os.path.join(out, "harness.log"), "w") as logf:
            r = subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=timeout)
        if r.returncode != 0 or not os.path.exists(os.path.join(out, "record.json")):
            with open(os.path.join(out, "harness.log")) as f:
                log(f.read()[-4000:])
            fail(f"harness exited with {r.returncode}")
        return (steal_s() - s0) / ((time.time() - t0) * cpus)

    # a run during which other guests took more than STEAL_RETRY_SHARE of
    # the CPU is made once more, in a new JVM, if time allows; the run with
    # the smaller share is kept (stolen CPU only ever slows a run)
    t_start = time.time()
    attempts = []
    for i in range(2):
        out = os.path.join(BUILD, "runs", f"{name}-{seed}-{trace}-{os.getpid()}-{i}")
        attempts.append((launch(out, RUN_TIMEOUT_S - (time.time() - t_start)), out))
        if attempts[-1][0] <= STEAL_RETRY_SHARE or time.time() - t_start > RUN_TIMEOUT_S / 2:
            break
        log(f"perfbench: {attempts[-1][0]:.0%} of the CPU was stolen; running again")
    _, out = min(attempts)
    rec_path = os.path.join(out, "record.json")
    record = load_json(rec_path)
    oracle_sql = load_json(os.path.join(out, "oracle_sql.json"))

    # failures: thrown ops (class and message) and wrong outputs (cause)
    causes = {n: f"EXCEPTION {c}" for n, c in record["failures"].items()}
    wrong = oracle.check(data, os.path.join(out, "check"), oracle_sql,
                         [n for n in w["ops"] if n not in causes])
    causes.update({n: f"WRONG {c}" for n, c in wrong.items()})
    attempted, failed = account(record, causes)

    stream = w["state_partitions"] is not None  # only replays keep state
    input_rows = sum(spec["inputs"][t]["rows"] for t in w["tables"])
    e2e, e2e_detail = report.end_to_end(record, stream, input_rows)
    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": not causes, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "failures": causes,
        "end_to_end": e2e, "end_to_end_detail": e2e_detail,
        "stamp": {
            "start": stamp_start, "end": host_stamp(), "git_commit": git_commit(),
            "steal_shares": [a for a, _ in attempts],
            "source_sha256": fp, "spark": record["env"]["spark"],
            "java": record["env"]["java"], "master": record["env"]["master"],
            "shuffle_partitions": record["env"]["shuffle_partitions"],
            "state_partitions": w["state_partitions"],
            "ops": w["ops"], "inputs": {t: spec["inputs"][t] for t in w["tables"]},
        },
    }
    if trace:
        result["per_layer"], spans = report.per_layer(record, stream)
        result["spans"] = spans
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{name}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(result, f)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="one workload; default: every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", metavar="OP",
                    help="self-test: corrupt OP's checked output")
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    defs = load_json(bench_path)
    spec = load_json(os.path.join(HERE, "workloads.json"))
    names = list(spec["workloads"])
    if a.workload and a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    seconds = a.seconds or defs["run_seconds"]
    fp = build()

    key = "per_layer" if a.trace else "end_to_end"
    results = {}
    for n in [a.workload] if a.workload else names:
        results[n] = run_workload(n, a.seed, seconds, a.trace, spec, fp, a.inject_wrong)
        for op, c in results[n]["failures"].items():
            log(f"perfbench: {n} {op} failed: {c}")
    if not a.workload:
        width = max(len(d["name"]) for d in defs[key])
        print(f"{'metric':<{width}}  {'unit':<6}" + "".join(f"{n:>16}" for n in names))
        for d in defs[key]:
            print(f"{d['name']:<{width}}  {d['unit']:<6}" + "".join(
                f"{results[n][key][d['name']]:>16.4f}" for n in names))
        print(f"{'failed/attempted':<{width}}  {'':<6}" + "".join(
            f"{str(r['failed']) + '/' + str(r['attempted']):>16}" for r in results.values()))
    rs = list(results.values())
    print(json.dumps({
        "correct": all(r["correct"] for r in rs),
        "attempted": sum(r["attempted"] for r in rs),
        "failed": sum(r["failed"] for r in rs),
        "metrics": {d["name"]: {"value": rs[0][key][d["name"]], "unit": d["unit"]}
                    for d in defs[key]} if a.workload else {}}))


if __name__ == "__main__":
    main()
