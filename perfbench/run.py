#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload cold_pipeline --seed 1 --seconds 2 --trace 0

Builds the engine and the harness (sbt, once per source state), renders
the workload's seeded inputs, runs the harness in a bare JVM on
local[N] (N = usable cpus, as nproc counts them), checks every output
outside the timed windows,
writes one artifact per run under .bench_build/artifacts/ and prints, as
the last stdout line, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 its per-layer metrics. The exit code is 0 only
when every operation succeeded and every check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165

WORKLOADS = ("cold_pipeline", "corpus_index")

# Spark's launcher injects these on JDK 17; without them Kryo cannot
# serialize the KMeans models behind the q_ann_* queries
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_command():
    """sbt with the repository's own build plus the harness sources,
    compiling into .bench_build so the repository's target/ is untouched."""
    harness = os.path.relpath(os.path.join(HERE, "src", "main", "scala"), ROOT)
    return ["sbt", "--batch",
            f'set Compile / unmanagedSourceDirectories += baseDirectory.value / "{harness}"',
            'set target := baseDirectory.value / ".bench_build" / "target"',
            "compile", "export Runtime / fullClasspath"]


def source_stamp():
    """Hash of the build command and everything the build reads; an
    unchanged tree is not rebuilt."""
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt")) + ["project/build.properties"]
    for base in ("src/main", os.path.join(os.path.relpath(HERE, ROOT), "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256(json.dumps(build_command()).encode())
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        raise SystemExit("perfbench: run from the repository root (build.sbt and src/main/scala "
                         "are missing here)")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = subprocess.run(build_command(), env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
                         timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def gen_stamp():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def inputs(workload, seed):
    d = os.path.join(BUILD, "data", f"{workload}-{seed}-{gen_stamp()}")
    if not os.path.isfile(os.path.join(d, "expect.json")):
        import gen  # numpy and pyarrow load only when inputs are rendered
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen.generate(workload, d, seed)
        log(f"inputs for {workload} seed {seed} rendered in {time.time() - t0:.1f} s")
    return d


def run_jvm(cp, workload, data, work, seconds, trace, inject):
    argfile = os.path.join(work, "java.args")
    out = os.path.join(work, "result.json")
    cpus = len(os.sched_getaffinity(0))
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp.replace("\\", "\\\\") + "\n")
    # a fixed heap and young generation: with G1 resizing the heap, the
    # peak RSS of one workload spread by a fifth across seeds; fixed, it
    # tracks what the old generation retains
    cmd = (["java", "-XX:+IgnoreUnrecognizedVMOptions", "-Xms4g", "-Xmx4g", "-Xmn768m", "-Xss4m"]
           + ADD_OPENS
           + ["--enable-native-access=ALL-UNNAMED", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work}/tmp", "@" + argfile, "perfbench.Main",
              "--workload", workload, "--data", data, "--work", work, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
              "--inject-failure", str(inject)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # never leave the JVM behind: timeout, SIGTERM or Ctrl-C alike
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness wrote no result (exit {code})")
    with open(out) as f:
        res = json.load(f)
    if code != 0:
        res["failures"].append(f"harness exit {code}")
        res["failed"] += 1
    return res


def stable_per_seed(workload, seed, key, value, res):
    """Outputs that must be identical across runs of one seed on one
    source tree: the first run records them, later runs compare."""
    d = os.path.join(BUILD, "stable")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(BUILD, "build.stamp")) as f:
        tree = f.read()[:16]
    path = os.path.join(d, f"{workload}-{seed}-{gen_stamp()}-{tree}-{key}.json")
    if os.path.isfile(path):
        with open(path) as f:
            want = json.load(f)
        ok = want == value
        res["checks"][f"stable.{key}"] = {"ok": ok, "detail": "same as first run of this seed"}
        if not ok:
            res["failures"].append(f"check stable.{key}: differs from the first run of seed {seed}")
    else:
        with open(path, "w") as f:
            json.dump(value, f)
        res["checks"][f"stable.{key}"] = {"ok": True, "detail": "first run of this seed, recorded"}


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def run_all(spec, a):
    """Every workload of BENCHMARK.json in turn, each in its own process;
    the last line merges their results under `<workload>.<metric>`."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in [w["name"] for w in spec["workloads"]]:
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1,
                                                   "failed": 1, "metrics": {}}
        merged["correct"] &= res["correct"] and p.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged), flush=True)
    return 0 if merged["correct"] else 1


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, or 'all' for those in BENCHMARK.json")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, default=-1,
                    help="make the operation with this index throw (tests failure accounting)")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload == "all":
        return run_all(spec, a)
    if a.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    cp = build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, a.inject_failure)
        t0 = time.time()
        if res["dumps"]:
            import oracle  # duckdb loads only for workloads with oracle checks
        for name, (ok, detail) in (oracle.compare_all(data, res["dumps"], res["oracle_sql"])
                                   if res["dumps"] else {}).items():
            res["checks"][f"oracle.{name}"] = {"ok": ok, "detail": detail}
            if not ok:
                res["failures"].append(f"check oracle.{name}: {detail}")
        res["oracle_check_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    named = res["named"]
    if a.workload == "cold_pipeline" and "topk" in named:
        stable_per_seed(a.workload, a.seed, "topk", named["topk"], res)

    failed = len(res["failures"])
    attempted = max(int(res["attempted"]), 1)
    res["failed_frac"] = failed / attempted
    correct = failed == 0
    e2e = res["e2e"]
    e2e_out = {m["name"]: {"value": finite(e2e.get(m["name"])), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    layers = res["layers"]
    layer_out = {m["name"]: {"value": finite(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                 for m in spec["per_layer"]}

    last_dir = os.path.join(BUILD, "last")
    os.makedirs(last_dir, exist_ok=True)
    last0 = os.path.join(last_dir, f"{a.workload}-{a.seed}-trace0.json")
    if a.trace == 0:
        with open(last0, "w") as f:
            json.dump(e2e_out, f)
    elif os.path.isfile(last0):
        # tracing overhead: this traced run's end-to-end numbers against the
        # last untraced run of the same workload and seed
        with open(last0) as f:
            base = json.load(f)
        res["tracing_overhead"] = {
            k: {"traced": finite(e2e.get(k)), "untraced": v["value"],
                "diff": (finite(e2e.get(k)) - v["value"])
                if finite(e2e.get(k)) is not None and v["value"] is not None else None}
            for k, v in base.items()}

    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    res["seed"] = a.seed
    with open(art, "w") as f:
        json.dump(res, f, indent=1)

    for k, v in e2e_out.items():
        log(f"{a.workload} {k} = {v['value']} {v['unit']}")
    log(f"{a.workload} failed_frac = {res['failed_frac']:.4f} ({failed} of {attempted} operations)")
    for k, v in named.items():
        if not isinstance(v, (dict, list)):
            log(f"{a.workload} {k} = {v}")
    for k, v in res.get("tracing_overhead", {}).items():
        log(f"{a.workload} tracing overhead {k}: {v['diff']}")
    for msg in res["failures"]:
        log(f"FAILED {msg}")
    log(f"artifact {os.path.relpath(art, ROOT)}")

    metrics = layer_out if a.trace else e2e_out
    if not correct:
        # keep the line valid JSON: a failed run's +inf totals print as 1e300
        metrics = {k: {"value": v["value"] if v["value"] is not None else 1e300, "unit": v["unit"]}
                   for k, v in metrics.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
