#!/usr/bin/env python3
"""Checks the benchmark itself at tiny workload sizes:

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) named in BENCHMARK.json prints, with its unit;
- the same seed reproduces the exact per-round counts across two runs;
- a deliberately perturbed oracle digest shows up as a nonzero error rate;
- the opt-in engine modes are refused.

    python3 perfbench/selfcheck.py

Each run starts its own Spark; the whole check takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def bench(workload: str, trace: int, *extra: str, env: dict | None = None):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, **(env or {})},
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def printed(lines: list[str]) -> dict:
    """``metric <name> <value> <unit>`` lines as {name: (value, unit)}."""
    out = {}
    for ln in lines:
        if ln.startswith("metric "):
            _, name, value, unit = ln.split(" ")
            out[name] = (float(value), unit)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in (w["name"] for w in spec["workloads"]):
        counts = []
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, err = bench(wl, trace)
            expect(rc == 0, f"{wl} trace {trace}: exit 0")
            if rc != 0:
                print(err[-2000:], file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            expect(res["correct"] and res["failed"] == 0, f"{wl} trace {trace}: outputs correct")
            shown = printed(lines)
            for m in spec[key]:
                expect(m["name"] in shown and shown[m["name"]][1] == m["unit"]
                       and res["metrics"].get(m["name"], {}).get("unit") == m["unit"],
                       f"{wl} trace {trace}: {m['name']} [{m['unit']}] printed")
            expect(set(res["metrics"]) == {m["name"] for m in spec[key]},
                   f"{wl} trace {trace}: result holds exactly the {key} metrics")
            counts.append(next(ln for ln in lines if ln.startswith("rounds ")))
        if len(counts) == 2:
            expect(counts[0] == counts[1], f"{wl}: same seed, same per-round counts")

    wl = spec["workloads"][0]["name"]
    rc, lines, _ = bench(wl, 0, "--perturb-oracle")
    res = json.loads(lines[-1]) if rc == 0 else {}
    expect(rc == 0 and res["failed"] > 0 and not res["correct"]
           and printed(lines)["error_rate"][0] > 0,
           f"{wl}: perturbed oracle digest gives a nonzero error rate")

    for var in ("ETLPY_CRAWL_OVERLAP", "ETLPY_DAEMON_PRELOAD", "ETLPY_IO_CODEC"):
        rc, lines, _ = bench(wl, 0, env={var: "1"})
        expect(rc != 0 and not lines, f"refuses to run with {var} set")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
