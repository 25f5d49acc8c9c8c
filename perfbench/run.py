"""graft's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the workload
at local[nproc] in a JVM with its own java.io.tmpdir, warehouse and
spark.local.dir (deleted afterwards), checks the outputs and prints, as
the last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: every end-to-end metric with --trace 0, every
per-layer metric with --trace 1. The line before it holds the
provenance, sample counts and the tracing overhead. Exits non-zero when
any check fails.

Workloads: serve, suite (see BENCHMARK.json).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

import build

BENCH = os.path.join(build.ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def provenance(classes):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                                capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None
    # outside a git checkout the source tree hash names the build
    return {"git_commit": commit, "source_tree": os.path.basename(classes)[len("classes-"):]}


def steal_s():
    """CPU time the host's hypervisor gave to other guests, summed over
    this machine's CPUs (0 where the kernel does not report it).
    """
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def overhead(traced, results, workload, seed):
    """Traced minus untraced end-to-end values. The untraced side is
    the run of the same build, workload and seed in this checkout or,
    failing that, the median of its untraced runs with other seeds.
    """
    same = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    paths = [same] if os.path.exists(same) else \
        glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json"))
    if not paths:
        return None
    plain = []
    for p in paths:
        with open(p) as f:
            plain.append(json.load(f)["e2e"])
    return {"untraced_runs": len(plain),
            "delta": {k: traced[k] - statistics.median(r[k] for r in plain)
                      for k in traced if all(k in r for r in plain)}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(BENCH) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classes = build.classes()
    corpus = build.corpus()
    jars = build.spark_jars()
    work = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.goldens={os.path.join(build.HERE, 'goldens.txt')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--corpus", corpus, "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    steal0 = steal_s()
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            sys.exit(f"perfbench: JVM exited with {code}")
        with open(out) as f:
            res = json.load(f)
        results = os.path.join(build.OUT, "results", os.path.basename(classes))
        os.makedirs(results, exist_ok=True)
        key = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        for p in glob.glob(out + "*"):
            shutil.copy(p, os.path.join(results, key + os.path.basename(p)[len("result"):]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers" if args.trace else "e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    failures = list(res["failures"])
    if args.trace:
        # a layer the workload never calls did no work in it
        values = dict(values, **{m: 0.0 for m in missing})
    else:
        failures += [f"metric {m} not measured" for m in missing]
    failed = res["failed"] + (0 if args.trace else len(missing))
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "provenance": dict(res["provenance"], **provenance(classes)),
            "host_steal_s": steal_s() - steal0,
            "failures": failures[:20], "stats": res["detail"]}
    if args.trace:
        info["not_exercised"] = missing
        info["tracing_overhead"] = overhead(res["e2e"], results, args.workload, args.seed)
        info["traced_e2e"] = res["e2e"]
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, res["attempted"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] in values}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
