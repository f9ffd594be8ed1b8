"""Steadiness harness: runs one workload N times, each in a fresh JVM with
its own seed, and prints every metric's median, quartiles and spread
((q3 - q1) / median), with each run's wall time, CPU-steal share and JVM
GC time.

    python3 perfbench/runs.py --workload bulk --runs 10 --seed0 100
    python3 perfbench/runs.py --workload all --runs 10 --out set1.jsonl

Every run is untraced and measures for run_seconds of BENCHMARK.json.
With --out, each run's record is appended to that file as one JSON line; --from prints the
summary of such a file again, as markdown tables:

    python3 perfbench/runs.py --workload all --from set1.jsonl
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ["trickle", "bulk"]


def one(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    diag = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] diag "):
            diag.update(json.loads(line[len("[perfbench] diag "):]))
        elif line.startswith("[perfbench] check failed") or "failed:" in line:
            print("   ", line, file=sys.stderr)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None or not result["correct"]:
        log = HERE / "out" / f"failed-{workload}-{seed}.log"
        log.parent.mkdir(parents=True, exist_ok=True)
        log.write_text(p.stderr)
        print(f"    run failed; its stderr is in {log}", file=sys.stderr)
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "wall_s": round(wall, 1), "diag": diag, "result": result}


def summary(records, markdown=False):
    names = []
    for r in records:
        for n in (r["result"] or {}).get("metrics", {}):
            if n not in names:
                names.append(n)
    if markdown:
        print("| metric | median | q1 | q3 | spread |\n|---|---|---|---|---|")
    else:
        print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for n in names:
        vs = [r["result"]["metrics"][n]["value"] for r in records
              if r["result"] and n in r["result"]["metrics"]]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        if markdown:
            print(f"| `{n}` | {med:.5g} | {q1:.5g} | {q3:.5g} | {spread:.3f} |")
        else:
            print(f"{n:36} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}")
    if markdown:
        steal = ", ".join(f"{r['diag'].get('steal_share', 0) * 100:.1f}" for r in records)
        print(f"\nsteal per run (%): {steal}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--from", dest="src")
    a = ap.parse_args()
    if a.src:
        records = [json.loads(line) for line in open(a.src) if line.strip()]
        for w in WORKLOADS if a.workload == "all" else [a.workload]:
            rs = [r for r in records if r["workload"] == w]
            if rs:
                print(f"\n**{w}** ({len(rs)} runs, seeds {rs[0]['seed']}..{rs[-1]['seed']})\n")
                summary(rs, markdown=True)
        return
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        records = []
        for i in range(a.runs):
            r = one(w, a.seed0 + i, seconds)
            records.append(r)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
            res = r["result"] or {}
            print(f"{w} seed={r['seed']} rc={r['rc']} wall={r['wall_s']}s "
                  f"steal={r['diag'].get('steal_share')} gc={r['diag'].get('jvm_gc_s')}s "
                  f"cds={r['diag'].get('cds_archive_mapped')} "
                  f"cycles={r['diag'].get('cycles')} correct={res.get('correct')} "
                  f"attempted={res.get('attempted')} failed={res.get('failed')}", flush=True)
        print(f"== {w}: {len(records)} runs, {seconds} s each")
        summary(records)


if __name__ == "__main__":
    main()
