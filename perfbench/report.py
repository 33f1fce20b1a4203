"""Run every benchmark workload over several seeds and print one table.

    python3 perfbench/report.py --seeds 1-10            # spread check
    python3 perfbench/report.py --seeds 1 --traced      # + traced run, overhead

For each workload and end-to-end metric it prints the median, the quartiles
and the spread (q3 - q1) / median of the runs against the metric's bound in
BENCHMARK.json, with the sample counts and the correctness verdict of every
run.  ``--traced`` adds, per workload, one ``--trace 1`` run on the first seed
and reports its per-layer metrics and the tracing overhead: the traced run's
measured phase minus the untraced run's, same seed.  The full record is written
to ``.perfbench_out/report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(ROOT, ".perfbench_out", f"detail-{tag}.json")) as f:
        detail = json.load(f)
    return result, detail


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None, help="comma list; default all in BENCHMARK.json")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seeds = _seeds(args.seeds)
    record: dict = {"run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    all_ok = True
    for w in names:
        runs = []
        for s in seeds:
            res, det = run_once(spec, w, s, 0)
            ref = statistics.median(det["host_reference_s"])
            runs.append({"seed": s, "result": res, "wall_s": det["wall_s"], "host_ref_s": ref,
                         "samples": det.get("samples"), "problems": det.get("problems")})
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} wall={det['wall_s']:.1f}s host_ref={ref:.4f}s",
                  file=sys.stderr, flush=True)
        rows = {}
        print(f"\n== {w}: {len(runs)} runs x {spec['run_seconds']} s, "
              f"samples per run {runs[0]['samples']}")
        print(f"{'metric':28s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}")
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            rows[m["name"]] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": sp,
                               "bound": m["bound"]}
            flag = "" if m["name"] == "setup_s" or sp <= m["bound"] / 3 else "  <-- above bound/3"
            print(f"{m['name']:28s} {m['unit']:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:7.3f} {m['bound']:6.2f}{flag}")
        attempted = sum(r["result"]["attempted"] for r in runs)
        failed = sum(r["result"]["failed"] for r in runs)
        ok = all(r["result"]["correct"] for r in runs)
        all_ok &= ok
        print(f"{'error_rate':28s} {'ratio':6s} {failed / attempted:12.4f}  "
              f"({failed} failed of {attempted} attempted)")
        refs = [r["host_ref_s"] for r in runs]
        print(f"verdict: {'correct' if ok else 'INCORRECT'}; run walls "
              f"{min(r['wall_s'] for r in runs):.1f}-{max(r['wall_s'] for r in runs):.1f} s; "
              f"host reference {min(refs):.4f}-{max(refs):.4f} s (see hostref.py)")
        entry = {"runs": runs, "end_to_end": rows, "correct": ok}
        if args.traced:
            s = seeds[0]
            tres, tdet = run_once(spec, w, s, 1)
            _, base = run_once(spec, w, s, 0)
            drain = tdet["phase"]["end"] - tdet["phase"]["start"]
            drain0 = base["phase"]["end"] - base["phase"]["start"]
            print(f"traced run (seed {s}): correct={tres['correct']}; tracing overhead "
                  f"{drain - drain0:+.3f} s on a {drain0:.3f} s measured phase")
            for k, v in tres["metrics"].items():
                print(f"  {k:32s} {v['value']:16.4f} {v['unit']}")
            entry["traced"] = {"seed": s, "result": tres, "overhead_s": drain - drain0,
                               "untraced_phase_s": drain0}
            all_ok &= tres["correct"]
        record["workloads"][w] = entry
    with open(os.path.join(ROOT, ".perfbench_out", "report.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
