"""Smoke mode: every workload at tiny scale, untraced and traced.

Checks that
  - each run prints every metric BENCHMARK.json names, with its unit, and
    no other metric;
  - outputs match the reference and no operation fails;
  - on every traced operation, the layer self times sum to the operation's
    wall time within SELF_TOLERANCE (relative) plus SELF_SLACK_MS, and no
    self time is negative beyond that slack.

    python3 perfbench/run.py --smoke
"""
import argparse
import json
import os

SELF_TOLERANCE = 0.05
SELF_SLACK_MS = 5.0


def _spec():
    path = os.path.join(os.getcwd(), "BENCHMARK.json")
    spec = json.load(open(path))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(run, self_times, workloads):
    e2e, layers = _spec()
    bad = []
    for w in sorted(workloads):
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=1, seconds=1.0, trace=trace, smoke=True)
            full, result = run(args)
            want = layers if trace else e2e
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                bad.append(f"{w}/trace{trace}: metrics {sorted(set(got) ^ set(want))} "
                           f"or units differ")
            if not result["correct"] or result["failed"]:
                bad.append(f"{w}/trace{trace}: correct={result['correct']} failed={result['failed']} "
                           f"problems={full['problems']}")
            for o in full.get("ops", []):
                if not o["ok"]:
                    continue
                s = self_times(o, w)
                slack = SELF_TOLERANCE * o["wall_ms"] + SELF_SLACK_MS
                total = sum(s.values())
                if abs(total - o["wall_ms"]) > slack or min(s.values()) < -SELF_SLACK_MS:
                    bad.append(f"{w}/{o['name']}: self times {s} sum {total:.1f} vs wall {o['wall_ms']:.1f}")
            print(f"smoke {w} trace={trace}: attempted={result['attempted']} failed={result['failed']} "
                  f"correct={result['correct']}", flush=True)
    for b in bad:
        print("SMOKE FAIL", b)
    print("smoke: " + ("FAIL" if bad else "ok"))
    return 1 if bad else 0
