"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
reads it: for each metric, the distance between the first and third
quartiles of its values over several seeds, as a share of their median,
next to the metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py <workload> <first_seed> <n_seeds> [trace]
Results of each run are appended to .bench_build/spread/<workload>.jsonl.
"""
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    workload, first, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    trace = sys.argv[4] if len(sys.argv) > 4 else "0"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out_dir = os.path.join(ROOT, ".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values = {}
    for seed in range(first, first + n):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", trace], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        lines = r.stdout.strip().splitlines()
        env, res = json.loads(lines[-2])["env"], json.loads(lines[-1])
        with open(os.path.join(out_dir, f"{workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": seed, "trace": trace, "env": env, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} calib_cpu_s={env['calib_cpu_s']:.3f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"{k:36s} median {med:12.4f}  spread {spread:7.3f}  bound {b}")


if __name__ == "__main__":
    main()
