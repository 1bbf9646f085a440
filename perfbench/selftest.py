"""Benchmark self-test: run one workload twice, traced, with the same seed.

    python3 perfbench/selftest.py [--workload rmat_cc] [--seed 7] [--seconds 20]

Both runs must agree exactly on the engine's answers (the fingerprint of
every labeling, in op order, over the ops both runs made) and on the counts
of every traced span of an op both runs traced: jobs, stages, tasks, failed
tasks and CC rounds. Timings are not compared. Exits 0 when they agree.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


def traced_run(workload: str, seed: int, seconds: float, spans: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
           "--spans", spans]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"selftest: a run was not correct: {result}")
    with open(spans) as fh:
        return json.load(fh)


def by_op(rows, key):
    out: dict[int, list] = {}
    for row in rows:
        op, value = key(row)
        out.setdefault(op, []).append(value)
    return out


def compare(a: dict, b: dict) -> list[str]:
    errors = [f"answer {i}: {x} != {y}"
              for i, (x, y) in enumerate(zip(a["answers"], b["answers"])) if x != y]
    keys = {
        "spans": lambda s: (s["op"], (s["layer"], s["name"]) + tuple(s[c] for c in COUNTS)),
        "rounds": lambda r: (r[0], r[1]),
    }
    compared = 0
    for field, key in keys.items():
        sa, sb = by_op(a[field], key), by_op(b[field], key)
        for op in sorted(set(sa) & set(sb)):
            compared += 1
            if sa[op] != sb[op]:
                errors.append(f"{field} of op {op}: {sa[op]} != {sb[op]}")
    if not a["answers"] or not b["answers"] or compared == 0:
        errors.append("the runs share no answers or traced op; raise --seconds")
    return errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="rmat_cc")
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args(argv)
    work = os.path.join(os.path.dirname(HERE), ".perfbench-work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        runs = [traced_run(args.workload, args.seed, args.seconds,
                           os.path.join(tmp, f"spans{i}.json")) for i in range(2)]
    errors = compare(*runs)
    for e in errors:
        print("MISMATCH", e)
    print(f"selftest {args.workload} seed {args.seed}: "
          f"{'ok' if not errors else f'{len(errors)} mismatches'}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
