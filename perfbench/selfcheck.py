"""Self-check: BENCHMARK.json and what the benchmark command prints agree.

Checks that BENCHMARK.json has the expected shape, that every workload it
names is one the command accepts, and then runs the command once per workload
with ``--trace 0`` and ``--trace 1``: the last line must carry exactly the
``end_to_end`` (``per_layer``) metrics, each with the unit BENCHMARK.json
gives it, and report a correct run.  It also checks that the graph-service
stub counts a re-sent batch as a retry.

    python3 perfbench/selfcheck.py          # about ten minutes on 4 cores
    python3 perfbench/selfcheck.py --static # shape and stub checks only
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def static_checks(bench: dict) -> list[str]:
    errors = []
    want = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(bench) != want:
        errors.append(f"top-level keys {sorted(bench)}")
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    errors += [f"bad or repeated name {n!r}" for n in names if not NAME.match(n) or names.count(n) > 1]
    for w in bench["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            errors.append(f"workload {w['name']}")
    for m in bench["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errors.append(f"end_to_end metric {m['name']}")
    for m in bench["end_to_end"] + bench["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errors.append(f"metric {m['name']} unit or direction")
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        errors.append("setup_s missing or not in s, lower")
    elif setup[0]["bound"] < max(m["bound"] for m in bench["end_to_end"]):
        errors.append("setup_s does not have the largest bound")
    if not 2 <= len(bench["workloads"]) <= 8 or not 1 <= bench["run_seconds"] <= 60:
        errors.append("workload count or run_seconds out of range")
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    errors += [f"workload {n} unknown to run.py" for n in
               (w["name"] for w in bench["workloads"]) if n not in WORKLOADS]
    return errors


def stub_check() -> list[str]:
    from service import GraphService

    service = GraphService(backlog=8, fail_first=1)
    try:
        body = json.dumps([{"_key": "1"}, {"_key": "2"}]).encode()
        for _ in range(2):  # the first answer is a 503, the second a retry
            req = urllib.request.Request(service.url + "/_api/document/CL", data=body, method="POST")
            try:
                urllib.request.urlopen(req, timeout=10).close()
            except urllib.error.HTTPError:
                pass
        c = service.counters()
    finally:
        service.close()
    want = {"requests": 2, "docs": 2, "non_2xx": 1, "retries": 1}
    return [] if all(c[k] == v for k, v in want.items()) else [f"stub counters {c}"]


def run_checks(bench: dict) -> list[str]:
    errors = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                errors.append(f"{w['name']} trace {trace}: exit {out.returncode}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
                errors.append(f"{w['name']} trace {trace}: {lines[-1][:200]}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if want != got:
                diff = sorted(set(want.items()) ^ set(got.items()))
                errors.append(f"{w['name']} trace {trace}: names/units differ {diff}")
            print(w["name"], trace, "checked", flush=True)
    return errors


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--static", action="store_true", help="skip running the benchmark")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = static_checks(bench) + stub_check()
    if not args.static:
        errors += run_checks(bench)
    for e in errors:
        print("FAIL:", e)
    print("selfcheck", "failed" if errors else "passed")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
