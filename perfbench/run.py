#!/usr/bin/env python3
"""graft's benchmark: four workloads, each in a fresh JVM at local[nproc].

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # all four, one after another
    python3 perfbench/run.py --workload all --smoke      # tiny sizes, sf0.001

Workloads: geojoin, shufflejoin, sweep, pods (see BENCHMARK.json). With
--trace 0 the last line of standard output is one JSON object with the
end-to-end metrics; with --trace 1 it carries the per-layer metrics, and the
spans go to <build dir>/trace/. The line before it is a report with the
metrics named per workload, every pass, and the host. The command exits
non-zero when an output check fails.

--record-expected reruns the sweep and rewrites its recorded row counts and
checksums (perfbench/expected/sweep.json); use it only on a commit whose
results passed the DuckDB oracle. The sweep runs two warm passes after its
cold one with --workload all, none otherwise.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "sweep.json")
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["geojoin", "shufflejoin", "sweep", "pods"]
XMX = "3g"
# a workload's JVM is stopped after this long; the longest run measured,
# the traced sweep, takes well under it (see README.md)
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def git_head():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def read_expected():
    try:
        with open(EXPECTED) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def summarize(xs):
    """Every sample of a pass with its median and quartiles."""
    out = {"n": len(xs), "values": xs}
    if xs:
        out["median"] = statistics.median(xs)
        if len(xs) >= 2:
            out["q1"], _, out["q3"] = statistics.quantiles(xs, n=4)
    return out


def run_workload(name, args, classes, trace):
    data_key = "sf0.001" if args.smoke else "sf0.01"
    data = os.path.join(HERE, "data", data_key)
    work = os.path.join(build.build_dir(), "run", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the sweep's recorded results for this data, one query per line
    with open(os.path.join(work, "expected.tsv"), "w") as fh:
        for k, (rows, sum_hex) in sorted(read_expected().items()):
            if k.startswith(data_key + "/"):
                fh.write(f"{k[len(data_key) + 1:]}\t{rows}\t{sum_hex}\n")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}", "-cp", cp, "graft.perfbench.Main",
            name, str(args.seed), str(args.seconds), str(trace),
            "smoke" if args.smoke else "full", data, work,
            os.path.join(build.build_dir(), "trace"), str(2 if args.workload == "all" else 0)]
    if args.record_expected:
        cmd.append("record")
    la0 = loadavg()
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=build.ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        if args.record_expected and name == "sweep":
            record_expected(data_key, os.path.join(work, "got.tsv"))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit(f"perfbench: {name} did not finish within {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        raise SystemExit(f"perfbench: {name} printed no result (exit {proc.returncode})")
    res = json.loads(lines[-1])
    res["passes"] = {k: summarize(v) for k, v in res["passes"].items()}
    res["workload"] = name
    res["exit_code"] = proc.returncode
    res["jvm_wall_s"] = time.time() - t0
    res["loadavg_start"], res["loadavg_end"] = la0, loadavg()
    return res


def record_expected(data_key, got_file):
    """Replaces the recorded sweep results for one data directory."""
    if not os.path.exists(got_file):
        raise SystemExit("perfbench: the sweep recorded no results")
    kept = {k: v for k, v in read_expected().items() if not k.startswith(data_key + "/")}
    with open(got_file) as fh:
        for line in fh:
            q, rows, sum_hex = line.rstrip("\n").split("\t")
            kept[f"{data_key}/{q}"] = [int(rows), sum_hex]
    with open(EXPECTED, "w") as fh:
        fh.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(kept.items()))
                 + "\n}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true", help="tiny sizes and the sf0.001 tables")
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    classes, key = build.build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    host = {"nproc": os.cpu_count(), "xmx": XMX, "git_head": git_head(), "source_hash": key,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke}
    results = [run_workload(n, args, classes, args.trace) for n in names]

    ok = True
    for r in results:
        missing = [m for m in wanted if m not in r["metrics"]]
        if missing:
            print(f"perfbench: {r['workload']} did not report {missing}", file=sys.stderr)
            ok = False
        ok = ok and r["correct"] and r["exit_code"] == 0
        print(f"perfbench: {r['workload']}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}", file=sys.stderr)
        for k, v in r["named"].items():
            print(f"  {r['workload']:<12} {k:<34} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    host["spark_version"] = results[0].get("spark_version")
    print(json.dumps({"report": results, "host": host}))
    if len(results) == 1:
        r = results[0]
        metrics = {m: r["metrics"][m] for m in wanted if m in r["metrics"]}
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["named"].items()}
    print(json.dumps({"correct": ok, "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results), "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
