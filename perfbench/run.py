"""Benchmark entry point.

    python3 perfbench/run.py --workload log_stream|curate_batch \
        --seed N --seconds S --trace 0|1

Builds the program and harness (see build.py), runs the workload in a JVM of
its own with fresh working directories under `.bench_work/`, and prints one
JSON result as the last line of stdout. With `--trace 1` it runs the workload
untraced and then traced, prints the traced run's per-layer table and the
tracing overhead (traced minus untraced end-to-end metrics), and reports the
per-layer metrics. See perfbench/NOTES.md.
"""
import argparse
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
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("log_stream", "curate_batch")
# each JVM's own deadline grows with --seconds: at --seconds 15 a JVM
# normally takes about 60 s, and log_stream's live window can stretch to
# twice its nominal length on a slow host; a traced JVM adds span
# bookkeeping and, for log_stream, the single-slot drain
JVM_BASE_S = 90
JVM_PER_SECOND_S = 4
JVM_TRACE_EXTRA_S = 30
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_timeout(seconds, trace):
    return JVM_BASE_S + JVM_PER_SECOND_S * seconds + (JVM_TRACE_EXTRA_S if trace else 0)


def run_jvm(cp, workload, seed, seconds, trace, work):
    """Run one harness JVM; return (result dict, stdout lines before it)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and fixed GC/JIT thread counts keep one run's JVM
    # like the next: adaptive heap sizing and extra compiler threads on a
    # few cores add run-to-run spread
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--launchMs", str(int(time.time() * 1000))]
    log = os.path.join(work, f"jvm-{workload}{'-trace' if trace else ''}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = proc.communicate(timeout=jvm_timeout(seconds, trace))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{workload} JVM timed out (log: {log})")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise RuntimeError(f"{workload} JVM exited with {proc.returncode} (log: {log})")
    with open(log) as lf:
        for line in lf:
            if line.startswith(("INVALID", "phase") + WORKLOADS):
                sys.stderr.write(line)
    lines = out.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def clean(work):
    """Drop run data; keep the JVM logs and span files."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated benchmark unwinds, so the build or the JVM it runs is
    # killed and waited for (subprocess.run and run_jvm both do so)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        if not a.trace:
            res, _ = run_jvm(cp, a.workload, a.seed, a.seconds, False, work)
        else:
            plain, _ = run_jvm(cp, a.workload, a.seed, a.seconds, False, work)
            clean(work)
            res, table = run_jvm(cp, a.workload, a.seed, a.seconds, True, work)
            print("\n".join(table))
            e2e = res.pop("e2e", {})
            if "local1_rate_per_s" in e2e:
                rn = plain["metrics"]["rate_per_s"]["value"]
                print(f"  (rate_per_s untraced {rn:.1f} = x{rn / e2e['local1_rate_per_s']:.2f}"
                      " the single-slot drain)")
            print("tracing overhead (traced - untraced, same seed):")
            for k, v in sorted(plain["metrics"].items()):
                if k in e2e:
                    print(f"  {k:<36} {e2e[k] - v['value']:+14.3f} {v['unit']}")
            res["correct"] = res["correct"] and plain["correct"]
            res["attempted"] += plain["attempted"]
            res["failed"] += plain["failed"]
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        clean(work)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
