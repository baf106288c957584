#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at toy sizes, untraced and traced, and
checks that each run prints exactly the metrics BENCHMARK.json names, with
their units, and that no operation failed. Then it runs every workload
against deliberately wrong oracles (every hash shifted, every lookup and
exists answer given an extra row) and checks that every operation fails,
which shows that the check of each kind of output is live. Exits non-zero at
the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--toy", "--seconds", "3",
           "--seed", "7", *args]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, cwd=REPO)
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run("--workload", w["name"], "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            label = f"{w['name']} trace={trace}"
            check(got == want, f"{label}: every {key} metric printed with its unit")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{label}: {res['attempted']} operations, none failed")
            if trace == 0:
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{label}: every end-to-end metric is above 0")
    for w in spec["workloads"]:
        res = run("--workload", w["name"], "--trace", "0", "--corrupt-oracle")
        check(res["attempted"] > 0 and res["failed"] == res["attempted"]
              and not res["correct"],
              f"{w['name']} against wrong oracles: {res['failed']} of "
              f"{res['attempted']} operations failed")


if __name__ == "__main__":
    main()
