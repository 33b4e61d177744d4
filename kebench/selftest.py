#!/usr/bin/env python3
"""Self-test of the benchmark on its own dataset.

    python3 kebench/selftest.py [workload ...]

For each workload (default: graph, corpus, ingest) one short untraced and
one short traced run must print every metric BENCHMARK.json names for
that mode, once, with its unit and a finite value, the provenance fields,
and no failed op. Then one ingest run against a copy of the pins with one
value corrupted must report a failed op, which shows the check can fail.
Takes about ten minutes on 4 cores; exits 1 on the first broken promise.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PINS = BENCH / "pins" / "sf0.001.json"
PROVENANCE = ["seed", "git", "tree_sha256", "nproc", "heap", "dataset",
              "samples", "order"]


def run(workload, trace, pins=PINS):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--pins", str(pins)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}\n"
                 + out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["kebench"], json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = sys.argv[1:] or ["graph", "corpus", "ingest"]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            detail, res = run(w, trace)
            tag = f"{w} trace={trace}"
            want = {m["name"]: m["unit"] for m in spec[key]}
            expect(set(res["metrics"]) == set(want),
                   f"{tag}: metrics {sorted(res['metrics'])} != {sorted(want)}")
            for name, m in res["metrics"].items():
                expect(m["unit"] == want[name], f"{tag}: {name} unit {m['unit']}")
                expect(isinstance(m["value"], (int, float))
                       and math.isfinite(m["value"]), f"{tag}: {name} = {m['value']}")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{tag}: {res['failed']} of {res['attempted']} failed: "
                   f"{detail.get('failures')}")
            missing = [k for k in PROVENANCE if k not in detail]
            expect(not missing, f"{tag}: provenance lacks {missing}")
            print(f"ok {tag}: {len(want)} metrics, {res['attempted']} checks, "
                  f"error_rate {detail['error_rate']}")

    bad = json.loads(PINS.read_text())
    rows, s, x = bad["pins"]["kgraph.edges"]
    bad["pins"]["kgraph.edges"] = [rows + 1, s, x]
    corrupt = BENCH / ".work" / "corrupt-pins.json"
    corrupt.parent.mkdir(parents=True, exist_ok=True)
    corrupt.write_text(json.dumps(bad))
    detail, res = run("ingest", 0, corrupt)
    expect(not res["correct"] and res["failed"] > 0 and detail["error_rate"] > 0,
           f"corrupted pin not caught: {res}")
    print(f"ok corrupted pin: {res['failed']} of {res['attempted']} failed, "
          f"error_rate {detail['error_rate']}")


if __name__ == "__main__":
    main()
