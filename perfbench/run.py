"""graft benchmark: closed-loop validation runs of ImageSuite.runAndCheckpoint.

    python3 perfbench/run.py --workload full_cold --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the engine and the driver from
source on first use (perfbench/build.py), generates the seed's image tier
under .bench_work/, runs one driver JVM on local[nproc], checks every
engine call's verdicts against an oracle, and prints the metrics named in
BENCHMARK.json: the end-to-end ones with --trace 0, the per-layer ones with
--trace 1. The last line of stdout is the JSON result.
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
import build  # noqa: E402

# the driver JVM may run this long; the whole run has to end within 180 s
DRIVER_TIMEOUT_S = 165
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    build.build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "driver.log")
    # -XX:-UsePerfData: no JVM perf-counter file under the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", build.classpath(), "graft.perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), work, str(cores),
              str(int(time.time() * 1000))])
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(3)))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=DRIVER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop()
                fail(f"driver exceeded {DRIVER_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"driver exited with code {proc.returncode}")
        with open(log_path) as fh:
            for l in fh:
                if l.startswith("OUTPUT CHECK FAILED"):
                    sys.stderr.write(l)
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    finally:
        stop()

    got = res["metrics"]
    missing = sorted(set(units) - set(got))
    if missing:
        fail(f"driver reported no value for {missing}")
    info = res["info"]
    print(f"host: cores={info['cores']} jdk={info['jdk']} spark={info['spark']} "
          f"heap_mb={info['max_heap_mb']} tier_rows={info['rows']} parts={info['parts']} "
          f"base_ordinal={info['base_ordinal']} arrival_order={info['arrival_order']} "
          f"untimed_generation_s={info['gen_s']:.2f} untimed_oracle_s={info['oracle_s']:.2f} "
          f"timed_call_walls_s={[round(w, 3) for w in info['call_walls_s']]}")
    for name in units:
        print(f"{a.workload} {name} = {got[name]:.6g} {units[name]}")
    fail_frac = res["failed"] / max(1, res["attempted"])
    print(f"{a.workload} fail_frac = {fail_frac:.6g} ratio "
          f"({res['failed']} of {res['attempted']} engine calls failed the output check)")
    print(json.dumps({
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": got[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
