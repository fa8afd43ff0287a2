#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The run

1. builds the harness (`perfbench/build.sbt`, which compiles the graft
   sources of the checkout) unless the classpath under `.bench_build/`
   is current;
2. generates the workload's inputs (cached per seed and size under
   `.bench_build/data/`; never timed): from the run seed for curation,
   from a fixed data seed for the workloads that stand for a read-only
   dataset; the run seed also draws each pass's op order;
3. starts a fresh JVM that builds the session with `GraftSession.local`,
   runs a cold pass, a settling pass and then measured passes over the
   workload's ops (as many as fit `--seconds` at the workload's nominal
   pass time, at least two), and writes the ops' results for the
   correctness check;
4. with `--trace 0`, starts another JVM that only builds the session,
   so `setup_s` is the median of two fresh-process samples; with `--trace 1`, the JVM also registers
   the benchmark's Spark listeners and reports per-layer metrics;
5. checks the results (DuckDB oracle, or a stable hash across two
   writes) and prints a report, then one JSON line:
   {"correct", "attempted", "failed", "metrics"}.

Workloads, op lists, input sizes and deadlines are in
`perfbench/design.json`. Everything the run writes stays under
`.bench_build/` in the checkout; its scratch directory (warehouse,
Spark local dirs, JVM temp dir) is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave the checkout's tree unchanged

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

PROGRAM_FILES = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "src/main/scala/graft/api/GraftSession.scala"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Content hash of everything the harness classpath is built from."""
    h = hashlib.sha1()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, work):
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log("building the harness with sbt (first run in this checkout)")
    t0 = time.time()
    build_log = os.path.join(work, "build.log")
    with open(build_log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840, stdin=subprocess.DEVNULL)
        out.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"harness build failed (exit {proc.returncode}); see {build_log}")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- JVMs

def java_cmd(cp, scratch, design):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    return [java, *opts, f"-Xmx{design['jvm_heap']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch}/jtmp",
            f"-Dspark.local.dir={scratch}/local",
            f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
            f"-Dderby.system.home={scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp]


def run_jvm(cmd, scratch, log_name, timeout):
    """Run one JVM in its own process group; returns (spawn epoch seconds,
    stdout text, exit code or None when it was killed at the deadline)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{scratch}/local")
    with open(os.path.join(scratch, log_name), "w") as err:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
            return spawned, out, proc.returncode
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return spawned, "", None


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        fail(f"no graft checkout here ({', '.join(missing)} missing); "
             "run from the root of a checkout")
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        contract = json.load(f)
    if args.workload not in design["workloads"]:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(design['workloads'])}")
    wl = design["workloads"][args.workload]
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)

    cp = ensure_built(root, work)

    import datagen  # needs duckdb; imported after the checkout check
    import check
    sizes = dict(design["base_sizes"], **wl["sizes"])
    t0 = time.time()
    data_seed = wl.get("data_seed", args.seed)
    data_dir = datagen.generate(os.path.join(work, "data"), args.workload,
                                data_seed, sizes)
    log(f"inputs ready in {time.time() - t0:.2f} s: {data_dir}")

    cores = max(1, min(design["cores"], os.cpu_count() or 1))
    # --seconds buys a whole number of measured passes at the workload's
    # nominal pass time; a fixed count keeps runs comparable on a host
    # whose speed varies
    measured_passes = max(design["min_measured_passes_traced" if args.trace
                                 else "min_measured_passes"],
                          round(args.seconds / wl["nominal_pass_s"]))
    deadlines = design["deadlines_s"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(work, "tmp"))
    try:
        for d in ("jtmp", "local", "out"):
            os.makedirs(os.path.join(scratch, d))
        cmd = java_cmd(cp, scratch, design)
        harness_args = [
            f"workload={args.workload}", f"data={data_dir}",
            f"out={scratch}/out", f"ops={','.join(wl['ops'])}",
            f"seed={args.seed}", f"measured_passes={measured_passes}",
            f"trace={args.trace}", f"cores={cores}",
            f"op_deadline_s={deadlines['op']}",
            f"run_deadline_s={deadlines['jvm_run']}"]
        spawned, _, code = run_jvm(cmd + ["perfbench.Harness", *harness_args],
                                   scratch, "harness.log", deadlines["process"])
        result_path = os.path.join(scratch, "out", "result.json")
        if code != 0 or not os.path.exists(result_path):
            log(tail(os.path.join(scratch, "harness.log")))
            fail("harness JVM " + ("passed the run deadline and was killed"
                                   if code is None else f"exited with {code}"), 1)
        with open(result_path) as f:
            res = json.load(f)
        setups = [res["ready_epoch_us"] / 1e6 - spawned]

        if not args.trace:
            for i in range(design["setup_samples"] - 1):
                spawned, out, code = run_jvm(
                    cmd + ["perfbench.SetupProbe", str(cores)], scratch,
                    f"setup{i}.log", deadlines["setup_probe"])
                ready = [l for l in out.splitlines() if l.startswith("ready_epoch_us=")]
                if code != 0 or not ready:
                    log(tail(os.path.join(scratch, f"setup{i}.log")))
                    fail("setup probe JVM failed", 1)
                setups.append(int(ready[0].split("=")[1]) / 1e6 - spawned)

        failures, oracle_n, stable_n = check.check(data_dir, res["checks"])
        report = summarize(args, res, setups, failures, oracle_n, stable_n,
                           contract["per_layer" if args.trace else "end_to_end"])
        print_report(args, wl, res, report, sizes, t_start)
        os.makedirs(os.path.join(work, "reports"), exist_ok=True)
        with open(os.path.join(work, "reports",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump({"report": report, "result": res}, f, indent=1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps({
        "correct": report["correct"], "attempted": report["attempted"],
        "failed": report["failed"], "metrics": report["metrics"]}))


def summarize(args, res, setups, failures, oracle_n, stable_n, specs):
    passes = res["passes"]
    timed = [op for p in passes for op in p["ops"]]
    checks = res["check_attempts"]
    failed_attempts = [a for a in timed + checks if a["error"]]
    failed_names = {a["name"].removeprefix("check:") for a in checks if a["error"]}
    mismatches = [n for n in failures if n not in failed_names]
    attempted = len(timed) + len(res["checks"])
    failed = len(failed_attempts) + len(mismatches)
    warm = [p for p in passes if p["index"] >= 2]
    untraced = [p for p in warm if not p["traced"]]
    samples = [op["wall_s"] for p in warm for op in p["ops"] if not op["error"]]
    out = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted, "oracle_checked": oracle_n,
        "stability_checked": stable_n, "op_samples": len(samples),
        "measured_passes": len(warm), "setup_samples": setups,
        "op_p90_s": (statistics.quantiles(samples, n=10, method="inclusive")[-1]
                     if len(samples) > 1 else 0.0),
        "failures": {a["name"]: a["error"] for a in failed_attempts},
        "mismatches": {n: failures[n] for n in mismatches},
    }
    if args.trace == 0:
        values = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": passes[0]["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in warm),
            "op_p50_s": statistics.median(samples),
        }
    else:
        values = dict(res["trace"]["metrics"])
        values["trace.untraced_pass_s"] = (
            statistics.median(p["wall_s"] for p in untraced) if untraced else 0.0)
        values["trace.overhead_s"] = values["trace.pass_s"] - values["trace.untraced_pass_s"]
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        fail(f"BENCHMARK.json names metrics this run does not measure: {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    out["metrics"] = metrics
    out["unlisted"] = {k: v for k, v in sorted(values.items()) if k not in metrics}
    return out


def print_report(args, wl, res, report, sizes, t_start):
    """Human-readable lines on stdout, before the final JSON line."""
    print(f"workload {args.workload}: {len(wl['ops'])} ops, seed {args.seed}, "
      f"local[{res['cores']}], window {res['window_s']:.1f} s, "
      f"{report['measured_passes']} measured passes, trace={args.trace}")
    print("inputs: " + ", ".join(f"{k}={v}" for k, v in sorted(sizes.items())))
    conf = res["spark_conf"]
    keys = ["spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.extensions", "spark.sql.warehouse.dir"]
    print("spark.conf: " + ", ".join(f"{k}={conf.get(k)}" for k in keys if k in conf))
    print(f"setup samples (s): {', '.join(f'{s:.3f}' for s in report['setup_samples'])}")
    for pz in res["passes"]:
        kind = ["cold", "settling"][pz["index"]] if pz["index"] < 2 else "measured"
        print(f"pass {pz['index']} ({kind}{', traced' if pz['traced'] else ''}): "
          f"{pz['wall_s']:.3f} s wall, {pz['cpu_s']:.3f} s cpu  " +
          " ".join(f"{o['name']}={o['wall_s']:.3f}" for o in pz["ops"]))
    print(f"correctness: {report['oracle_checked']} ops against the DuckDB oracle, "
      f"{report['stability_checked']} checked only for stability (two writes, same hash); "
      f"error_rate={report['error_rate']:.4f} ({report['failed']}/{report['attempted']})")
    for n, why in {**report["failures"], **report["mismatches"]}.items():
        print(f"  FAILED {n}: {why}")
    if args.trace:
        ops = res["trace"]["ops"]
        worst = max((abs(sum(o["self_s"].values()) - o["wall_s"]) for o in ops), default=0.0)
        print(f"per-op layer self times ({len(ops)} op spans; self times sum to wall "
          f"within {worst * 1000:.1f} ms; 'unattributed' is the residual):")
        for o in ops:
            if o["pass"] != 2:
                continue
            parts = " ".join(f"{k}={v:.3f}" for k, v in sorted(o["self_s"].items()))
            print(f"  pass {o['pass']} {o['name']}: wall={o['wall_s']:.3f} {parts}")
    for k, v in report["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for k, v in report["unlisted"].items():
        print(f"  {k} = {v:.6g} (measured, not in BENCHMARK.json)")
    n = report["op_samples"]
    print(f"op latency: {n} samples; p90 = {report['op_p90_s']:.4f} s with {n - int(0.9 * n)} "
          "samples beyond it, too few to bound (so not in BENCHMARK.json)")
    print(f"run took {time.time() - t_start:.1f} s")


if __name__ == "__main__":
    main()
