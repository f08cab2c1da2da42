"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and harness from source (perfbench/build.py), makes the
run's inputs from the seed, runs the JVM harness (graft.perfbench.Harness)
on a local[4] Spark session with a 3 GiB heap, and prints an environment
line, then the result as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
Everything it writes stays under .bench_build/ in the checkout.

Workloads (rationale in perfbench/README.md):
  olap_slice      closed loop, 1 client, registry queries at sf0.01,
                  answers checked against DuckDB oracle digests
  serve_mix       closed loop, 2 clients, one request per Serving endpoint
                  per deck, over one model
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("olap_slice", "serve_mix")
OLAP_SF = 0.01
DEADLINE_S = 170


def run_harness(cmd, log_path, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True,
                             env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def self_test():
    build.build()
    r = subprocess.run(["java", *build.jvm_flags(), "-cp", build.classpath(),
                        "graft.perfbench.SelfTest"])
    r2 = subprocess.run([sys.executable, os.path.join(build.BENCH, "test", "test_oracle.py")])
    return r.returncode or r2.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    t_start = time.monotonic()
    build.build()

    runs = os.path.join(build.ROOT, ".bench_build", "runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        cmd_extra = []
        if a.workload == "olap_slice":
            import gen_data
            import oracle
            gen_data.write(data, a.seed, OLAP_SF)
            with open(build.ORACLE_SQL) as f:
                expect = oracle.digests(data, json.load(f))
            exp_path = os.path.join(work, "expect.tsv")
            with open(exp_path, "w") as f:
                f.writelines(f"{q}\t{d}\n" for q, d in expect.items())
            cmd_extra = ["--expect", exp_path]
        out = os.path.join(work, "result.json")
        cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", *build.jvm_flags(),
               f"-Dspark.local.dir={work}/local", f"-Djava.io.tmpdir={work}/tmp",
               "-cp", build.classpath(), "graft.perfbench.Harness",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--data", data, "--out", out, "--work", work, *cmd_extra]
        log = os.path.join(work, "harness.log")
        rc = run_harness(cmd, log, DEADLINE_S - (time.monotonic() - t_start))
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            sys.stderr.write(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}\n")
            return 1
        with open(out) as f:
            res = json.load(f)
        traces = os.path.join(build.ROOT, ".bench_build", "traces")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
        print(json.dumps({"env": res["env"], "workload": a.workload, "seed": a.seed}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    finally:
        log = os.path.join(work, "harness.log")
        if os.path.exists(log):
            logs = os.path.join(build.ROOT, ".bench_build", "logs")
            os.makedirs(logs, exist_ok=True)
            shutil.copy(log, os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
