#!/usr/bin/env python3
"""Benchmark of the graft lakehouse pipeline: one workload, one seed, one run.

    python3 lakebench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark's Scala code with sbt (offline) and caches the classpath
under `lakebench/target/`; later runs reuse it while the sources are
unchanged. Each run gets a fresh work directory under `lakebench/work/`,
deleted at exit. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). The lines before it
name every metric with its unit, and give sample counts and the check's
findings. See README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ("medallion", "lake_ingest")
JVM_TIMEOUT_S = 170  # the whole run must end within 180 s
BUILD_TIMEOUT_S = 800
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the program's sources and build
    files, and the benchmark's."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources;
    return the classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "lakebench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def verify_data():
    """The input tables must be the committed, oracle-verified bytes."""
    d = os.path.join(BENCH, "data", "sf0.1")
    with open(d + ".sha256") as f:
        listed = [line.split() for line in f]
    for digest, name in listed:
        with open(os.path.join(d, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise SystemExit(f"input table sf0.1/{name} does not match its checksum")
    return d


def run_jvm(cp, args, work):
    """Run the benchmark JVM to completion; return the launch time."""
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-cp", cp, "lakebench.Main"] + [f"{k}={v}" for k, v in args.items()]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(os.path.join(work, "jvm.log")) as f:
        jvm_log = f.read()
    if code != 0:
        sys.stderr.write(jvm_log[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    for line in jvm_log.splitlines():
        if "[lakebench]" in line:
            log(line.strip().split("[lakebench] ", 1)[-1])
    return launched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run from a checkout of the repository: the program's sources are missing")
    import checks
    import gen
    import metrics

    cp = build()
    sf_dir = verify_data()
    work_root = os.path.join(BENCH, "work")
    shutil.rmtree(work_root, ignore_errors=True)  # left by a killed run
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        args = {"workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
                "trace": opts.trace, "data": sf_dir, "work": work,
                "out": os.path.join(work, "out.json")}
        truth = None
        if opts.workload == "lake_ingest":
            args["input"] = os.path.join(work, "input")
            truth = gen.generate(opts.seed, sf_dir, args["input"])
        launched = run_jvm(cp, args, work)
        with open(args["out"]) as f:
            raw = json.load(f)

        if truth is None:
            ran = sorted({o["name"] for o in raw["ops"]})
            failures = checks.oracle_check(sf_dir, raw["dump"], ran,
                                           os.path.join(BENCH, "target", "oracle_hashes.json"))
            input_bytes = lake_input = 0
            log(f"oracle compare: {len(ran) - len(failures)} of {len(ran)} gates match")
        else:
            failures = checks.lake_check(truth, raw, os.path.join(work, "accounts.tsv"))
            timed = {r["round"] for r in raw["rounds"] if r["phase"] == "timed"}
            input_bytes = sum(f["bytes"] for f in truth["files"].values() if f["round"] in timed) + \
                sum(b["bytes"] for b in truth["batches"].values() if b["round"] in timed)
            lake_input = input_bytes + sum(f["bytes"] for f in truth["files"].values() if f["round"] == 0) + \
                sum(b["bytes"] for b in truth["batches"].values() if b["round"] == 0)
            log(f"truth compare: {len(failures)} findings over {len(timed) + 1} rounds")
        for f in failures:
            log(f"CHECK FAILED: {f}")

        timed_ops = [o for o in raw["ops"] if o["phase"] == "timed"]
        e2e = metrics.end_to_end(raw, truth, launched)
        if opts.trace:
            values, units = metrics.per_layer(raw, opts.workload, input_bytes, lake_input), metrics.PER_LAYER
        else:
            values, units = e2e, metrics.END_TO_END
        print(f"workload {opts.workload} seed {opts.seed}: {len(raw['rounds'])} rounds, "
              f"{len(timed_ops)} timed ops, {raw['failed']:.0f} failed, cores {raw['cores']:.0f}, "
              f"session ready {raw['session_ready_ms'] / 1000 - launched:.2f} s after launch")
        for o in timed_ops:
            print(f"  op {o['kind']} {o['name']} round {o['round']}: {o['s']:.4f} s"
                  + ("" if o["ok"] else " FAILED"))
        main_ops = metrics.main_ops(raw, truth)
        t = metrics.tail(main_ops)
        print(f"  op latency over {len(main_ops)} samples: p50 {metrics.median(main_ops):.4f} s, "
              + (f"p{t[1]:.0f} {t[0]:.4f} s" if t else "no tail percentile (fewer than 11 samples)"))
        if truth is not None:
            for k, v in metrics.ingest_figures(raw, "timed").items():
                print(f"  {k} {v:.6g}")
            print(f"  write_amp {raw['lake.bytes_written'] / input_bytes:.4f} "
                  f"(timed input {input_bytes} bytes), space_amp "
                  f"{raw['lake.live_bytes'] / lake_input:.4f} (lake input {lake_input} bytes)")
        for k in units:
            print(f"  {k} = {values[k]:.6g} {units[k]}")
        print(json.dumps({
            "correct": not failures,
            "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
    finally:
        shutil.rmtree(work_root, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
