"""Runs one benchmark workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Builds first when the sources changed (see build.py). The JVM's stdout is
relayed to stderr except for the result, a JSON object printed as the last
line: {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
After the JVM's own diag line on stderr, a second one gives
"cds_archive_mapped": whether the JVM mapped the build's class-data
archive (a run without it has a slower set-up).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import json
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = build.build()
    tmp = build.OUT / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = build.jvm(jars, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work", str(build.OUT / "work")], tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        # a terminated run takes its JVM with it
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        lines = proc.stdout.read().splitlines()
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    mapped = build.archive_mapped(tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    result = None
    for line in lines:
        try:
            r = json.loads(line)
            if isinstance(r, dict) and "metrics" in r:
                result = line
                continue
        except ValueError:
            pass
        print(line, file=sys.stderr)
    print("[perfbench] diag " + json.dumps({"cds_archive_mapped": mapped}), file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.exit(proc.returncode or 1)
    print(result)


if __name__ == "__main__":
    main()
