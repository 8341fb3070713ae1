"""Runs the benchmark once per seed and reports, for each metric, the
median and the spread: the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of the
median.

    python3 methodbench/spread.py --workload freq_heavy --seeds 1-10 [--trace 0] [--baseline FILE]

With `--trace 0` (the default) the metrics are the end-to-end ones,
shown next to their bounds from BENCHMARK.json. With `--trace 1` they
are the per-layer ones of traced runs.

With `--baseline`, the set is appended to the workload's entry in
FILE, tagged with this host's CPU count; earlier sets are kept. An
untraced set is also compared with the workload's previous untraced
set: a median more than its bound worse than the previous one is
flagged. Exits 1 if a run fails, an operation fails, a spread other
than setup_s's is above its bound, or a median is flagged.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(workload, seed, trace):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", str(trace)], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit code {r.returncode}\n{r.stderr[-2000:]}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    shape = re.search(r"inputs files=(\d+) rows=(\d+) bytes=(\d+)", r.stderr)
    return result, tuple(int(x) for x in shape.groups())


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--baseline")
    a = p.parse_args()
    values, units, shapes, failed, attempted = {}, {}, [], 0, 0
    for seed in a.seeds:
        try:
            result, shape = run(a.workload, seed, a.trace)
        except RuntimeError as e:
            print(e)
            return 1
        shapes.append(shape)
        failed += result["failed"]
        attempted += result["attempted"]
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} " +
              " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()
                       if a.trace == 0 or k.startswith(("share.", "trace."))), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]

    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]} if a.trace == 0 else {}
    summary, bad = {}, failed > 0
    for name, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
                         "spread": round(spread, 4), "unit": units[name]}
        note = ""
        if name in bounds:
            note = f"(bound {bounds[name]})"
            if name != "setup_s" and spread > bounds[name]:
                note += " ABOVE BOUND"
                bad = True
        print(f"{name:32s} median {med:10.4f} {units[name]:5s} spread {spread:.3f} {note}")

    if a.baseline:
        path = Path(a.baseline)
        base = json.loads(path.read_text()) if path.exists() else {}
        entry = base.setdefault(a.workload, {})
        entry["why"] = next(w["why"] for w in SPEC["workloads"] if w["name"] == a.workload)
        files, rows, size = (statistics.median(x) for x in zip(*shapes))
        entry["inputs"] = {"files": files, "rows": rows, "bytes": size}
        key = "traced_sets" if a.trace else "sets"
        previous = entry.get(key, [])
        new = {"cpus": os.cpu_count(), "seeds": f"{a.seeds.start}-{a.seeds.stop - 1}",
               "run_seconds": SPEC["run_seconds"], "attempted": attempted, "failed": failed,
               "metrics": summary}
        if a.trace == 0 and previous:
            before = previous[-1]["metrics"]
            for m in SPEC["end_to_end"]:
                if m["name"] not in before:
                    continue
                ratio = summary[m["name"]]["median"] / before[m["name"]]["median"]
                worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
                flag = " WORSE THAN BOUND" if worse > m["bound"] else ""
                bad = bad or bool(flag)
                print(f"{m['name']:32s} median / previous set's {ratio:.3f} (bound {m['bound']}){flag}")
        entry.setdefault(key, []).append(new)
        path.write_text(json.dumps(base, indent=2) + "\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
