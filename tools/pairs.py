"""Paired A/B runs of the declared benchmark: a parent checkout against a
change checkout.

    python3 tools/pairs.py ../parent . --workload trickle --pairs 10 --seed0 301
    python3 tools/pairs.py ../parent . --workload all --pairs 10 --seed0 301 \\
        --out pairs.jsonl --claim trickle:changes_keys_per_s
    python3 tools/pairs.py ../parent . --workload all --from pairs.jsonl

Each checkout runs its OWN `perfbench/run.py` (so each side builds from its
own sources), untraced, for BENCHMARK.json's run_seconds. Pair i uses seed
seed0 + i on both sides, and the side that goes first alternates (parent
first in even pairs), so drift of the host weighs on both alike. Never run
this next to another benchmark or the test suite.

The summary is one markdown row per end-to-end metric of BENCHMARK.json:
each side's median with [q1, q3], change / parent, the pairs the change
won (better in the metric's direction), and a verdict. A move no larger
than the parent's interquartile range is "unresolved"; a worse move beyond
the metric's bound is flagged. A claimed metric (--claim workload:metric)
holds when the change wins at least 9 of 10 pairs (the same share of N)
and the medians differ by more than the parent's interquartile range.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ["trickle", "bulk"]


def run(checkout, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(checkout / "perfbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None or not result.get("correct"):
        tail = "\n".join(p.stderr.splitlines()[-20:])
        print(f"    run failed (rc={p.returncode}); stderr tail:\n{tail}", file=sys.stderr)
    return {"rc": p.returncode, "wall_s": round(time.time() - t0, 1), "result": result}


def fmt(v):
    a = abs(v)
    if a >= 1e6:
        return f"{v / 1e6:.4g} M"
    if a >= 1e5:
        return f"{v / 1e3:.4g} k"
    if a >= 1e4:
        return f"{v:,.0f}"
    return f"{v:.4g}"


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return q1, med, q3


def summary(records, metrics, claims):
    """Print the table for the records of one workload; return claim verdicts."""
    w = records[0]["workload"]
    pairs = {}
    for r in records:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    full = [p for p in pairs.values() if "parent" in p and "change" in p]

    def ok(r):
        res = r["result"]
        return res is not None and res.get("correct") and res.get("failed", 1) == 0

    bad = sum(1 for p in full for r in p.values() if not ok(r))
    for side in ("parent", "change"):
        att = sum((p[side]["result"] or {}).get("attempted", 0) for p in full)
        fail = sum((p[side]["result"] or {}).get("failed", 0) for p in full)
        print(f"{w} {side}: {len(full)} runs, {fail}/{att} operations failed")
    if bad:
        print(f"{w}: {bad} runs were not correct or had failed operations; "
              "they are left out below")
    good = [p for p in full if ok(p["parent"]) and ok(p["change"])]
    print(f"\n| workload | metric | parent median [q1, q3] | change median [q1, q3] "
          f"| change / parent | change better in | verdict |\n|---|---|---|---|---|---|---|")
    verdicts = {}
    for m in metrics:
        name, higher, bound = m["name"], m["better"] == "higher", m["bound"]
        vals = [(p["parent"]["result"]["metrics"].get(name, {}).get("value"),
                 p["change"]["result"]["metrics"].get(name, {}).get("value")) for p in good]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        pa, pm, pb = quartiles([a for a, _ in vals])
        ca, cm, cb = quartiles([b for _, b in vals])
        wins = sum(1 for a, b in vals if (b > a if higher else b < a))
        ratio = cm / pm if pm else float("nan")
        iqr = pb - pa
        spread = iqr / pm if pm else float("nan")
        better = cm > pm if higher else cm < pm
        worse_share = (pm - cm) / pm if higher else (cm - pm) / pm
        claimed = (w, name) in claims
        if abs(cm - pm) <= iqr:
            verdict = f"unresolved (spread {spread:.3f})"
        elif better:
            verdict = "better" + (" (claimed)" if claimed else "")
        else:
            verdict = f"worse by {worse_share * 100:.1f} %"
            if worse_share > bound:
                verdict += f", OUT OF BOUND {bound}"
        if claimed:
            holds = wins * 10 >= 9 * len(vals) and better and abs(cm - pm) > iqr
            verdicts[(w, name)] = (holds, wins, len(vals), ratio)
        print(f"| {w} | `{name}` | {fmt(pm)} [{fmt(pa)}, {fmt(pb)}] | "
              f"{fmt(cm)} [{fmt(ca)}, {fmt(cb)}] | {ratio:.3f} | {wins}/{len(vals)} | {verdict} |")
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path, help="checkout of the parent commit")
    ap.add_argument("change", type=Path, help="checkout of the change")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="append each run's record to this JSON-lines file")
    ap.add_argument("--from", dest="src", help="summarize a file written by --out; run nothing")
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric whose gain is claimed (repeatable)")
    a = ap.parse_args()
    parent, change = a.parent.resolve(), a.change.resolve()
    bench = json.loads((change / "BENCHMARK.json").read_text())
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    workloads = WORKLOADS if a.workload == "all" else [a.workload]

    if a.src:
        records = [json.loads(line) for line in open(a.src) if line.strip()]
    else:
        records = []
        seconds = bench["run_seconds"]
        for w in workloads:
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = [("parent", parent), ("change", change)]
                if i % 2:
                    order.reverse()
                for side, checkout in order:
                    r = run(checkout, w, seed, seconds)
                    r.update(workload=w, pair=i, seed=seed, side=side)
                    records.append(r)
                    if a.out:
                        with open(a.out, "a") as f:
                            f.write(json.dumps(r) + "\n")
                    res = r["result"] or {}
                    print(f"{w} pair={i} seed={seed} {side} rc={r['rc']} wall={r['wall_s']}s "
                          f"correct={res.get('correct')} attempted={res.get('attempted')} "
                          f"failed={res.get('failed')}", flush=True)

    verdicts = {}
    for w in workloads:
        rs = [r for r in records if r["workload"] == w]
        if rs:
            print()
            verdicts.update(summary(rs, bench["end_to_end"], claims))
    for (w, name), (holds, wins, n, ratio) in sorted(verdicts.items()):
        print(f"\nclaim {w} {name}: {'HOLDS' if holds else 'DOES NOT HOLD'} "
              f"(change won {wins}/{n} pairs, median ratio {ratio:.3f})")
    for c in claims - set(verdicts):
        print(f"\nclaim {c[0]} {c[1]}: no paired data")


if __name__ == "__main__":
    main()
