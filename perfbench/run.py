#!/usr/bin/env python3
"""Benchmark runner for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness (perfbench/build.sh) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`, relative to the repo root),
runs one harness process on local[nproc], and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The full result, with host, settings, input
sizes and per-rep samples, is written to <build>/perfbench/results/.

Other modes:
    --smoke        tiny inputs (seconds, not minutes)
    --selftest     every workload in smoke mode, traced and untraced; checks
                   each BENCHMARK.json metric is printed with its unit and
                   that traced and untraced triple digests agree
    --record DIR   regenerate the battery digests: writes the battery tables
                   and Verify-format outputs under DIR, runs
                   tools/crosscheck.py --strict on them and, if it passes,
                   replaces perfbench/battery_golden.tsv (with --smoke:
                   battery_golden_smoke.tsv)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["transcripts_large", "catalog_large", "operator_battery"]
RUN_TIMEOUT_S = 170  # a run must end within 180 s; the first run's build is extra
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (the JDK module
# options spark-submit would inject).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(os.path.abspath(os.path.join(ROOT, d)), "perfbench")


def spark_jars():
    """Jars of SPARK_HOME, or of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def heap_mb():
    """A fifth of the host's memory, 2-8 GB (the repo's 48 g default is
    sized for a 32-core box)."""
    return max(2048, min(8192, mem_total_mb() // 5))


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_to_end(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group with output to `log`; on timeout
    kill the whole group. Returns the exit code, or None on timeout. Every
    process it started has ended when it returns."""
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def build(bdir):
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    env = dict(os.environ, SPARK_HOME=os.path.dirname(spark_jars()))
    rc = run_to_end(["bash", os.path.join(HERE, "build.sh"), bdir], log, BUILD_TIMEOUT_S,
                    env=env)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    with open(os.path.join(bdir, "classes.stamp")) as f:
        return f.read().strip()


def harness(bdir, stamp, workload, seed, seconds, trace, smoke, record=None):
    """Run one harness process; returns the parsed result file (None when
    recording battery digests into the directory `record`)."""
    work = os.path.join(bdir, "work", workload + ("-smoke" if smoke else ""))
    # fresh inputs and outputs every run; the digest store persists
    if os.path.isdir(work):
        for name in os.listdir(work):
            if name != "digests":
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{workload}{'-smoke' if smoke else ''}-seed{seed}-trace{trace}"
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    heap = f"{heap_mb()}m"  # fixed size, so peak RSS does not follow heap resizing
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", f"{bdir}/classes:{spark_jars()}/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", out,
              "--golden", golden_path(smoke),
              "--meta-source_stamp", stamp, "--meta-git_commit", git_commit()]
           + (["--smoke"] if smoke else []) + (["--record", record] if record else []))
    log = os.path.join(results, tag + ".log")
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    rc = run_to_end(cmd, log, RUN_TIMEOUT_S, cwd=ROOT)
    if rc is None:
        fail(f"{tag}: harness exceeded {RUN_TIMEOUT_S} s; see {log}")
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    if rc != 0 or not (record or os.path.exists(out)):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{tag}: harness exited {rc}; see {log}")
    if record:
        return None
    with open(out) as f:
        return json.load(f)


def golden_path(smoke):
    return os.path.join(HERE, "battery_golden_smoke.tsv" if smoke else "battery_golden.tsv")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def contract_line(res):
    return json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")})


def check_metrics(res, declared):
    """Problems with a result's metrics against BENCHMARK.json's list."""
    got = res["metrics"]
    errs = [f"missing {m['name']}" for m in declared if m["name"] not in got]
    errs += [f"{m['name']}: unit {got[m['name']]['unit']} != {m['unit']}"
             for m in declared if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    errs += [f"undeclared {n}" for n in got if n not in {m["name"] for m in declared}]
    errs += [f"{n} is not a number" for n, v in got.items()
             if not isinstance(v.get("value"), (int, float))]
    return errs


def selftest(bdir, stamp):
    s = spec()
    problems = []
    for w in WORKLOADS:
        plain = harness(bdir, stamp, w, 1, 1, 0, smoke=True)
        traced = harness(bdir, stamp, w, 1, 1, 1, smoke=True)
        for res, key in ((plain, "end_to_end"), (traced, "per_layer")):
            problems += [f"{w} trace={res['run']['trace']}: {e}" for e in check_metrics(res, s[key])]
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={res['run']['trace']}: outputs not correct")
        d = traced["detail"]
        if w == "operator_battery":
            digests = (d["companion.untraced_digest"], d["companion.traced_digests"])
        else:
            digests = (plain["detail"]["triples_digest"], d["flagship.traced_digests"])
            low = [f for f in d["flagship.attributed_frac"] if f < 0.9]
            if low:
                problems.append(f"{w}: traced rep attributes only {low} of its wall to layers")
        if digests[1] != [digests[0]]:
            problems.append(f"{w}: traced digests {digests[1]} != untraced {digests[0]}")
        print(f"selftest {w}: untraced {contract_line(plain)[:160]}...", file=sys.stderr)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print(json.dumps({"selftest": "pass" if not problems else "fail", "problems": problems}))
    return 0 if not problems else 1


def record(bdir, stamp, dest, smoke):
    dest = os.path.abspath(dest)
    harness(bdir, stamp, "operator_battery", 0, 0, 0, smoke=smoke, record=dest)
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "crosscheck.py"),
                         f"{dest}/data", f"{dest}/verify", "--strict"]).returncode
    if rc != 0:
        fail(f"crosscheck --strict failed; {golden_path(smoke)} left unchanged")
    with open(f"{dest}/golden.tsv") as f:
        body = f.read()
    with open(golden_path(smoke), "w") as f:
        f.write("# query\trows\tdigest -- recorded by `run.py --record` after "
                "tools/crosscheck.py --strict passed on the same outputs\n" + body)
    print(f"recorded {body.count(chr(10))} battery digests")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    bdir = build_dir()
    stamp = build(bdir)
    if a.selftest:
        return selftest(bdir, stamp)
    if a.record:
        return record(bdir, stamp, a.record, a.smoke)
    if not a.workload:
        ap.error("--workload is required")
    res = harness(bdir, stamp, a.workload, a.seed, a.seconds, a.trace, a.smoke)
    print(contract_line(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
