"""Write the per-layer report of one workload from an untraced and a traced run.

    python3 perfbench/report.py --workload lakehouse_cycle --seed 1 --seconds 8

Runs `run.py` twice with the same seed, first with --trace 0 and then with
--trace 1, and writes perfbench/results/<workload>.md: the end-to-end
metrics of both runs (their difference is the tracing overhead), each
operation's wall time split into Spark-job, planning and driver-only time
(the three add up to the wall time), the workload's per-layer metrics, and
its three largest costs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    detail, result = [json.loads(l) for l in out.strip().splitlines()[-2:]]
    return detail["detail"], result


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    plain, _ = run(a.workload, a.seed, a.seconds, 0)
    traced, result = run(a.workload, a.seed, a.seconds, 1)
    layer = {k: v["value"] for k, v in result["metrics"].items()}

    lines = [f"# `{a.workload}`: first traced run", "",
             f"Seed {a.seed}, `--seconds {a.seconds}`, local[{os.cpu_count()}], one client thread. "
             "Written by `python3 perfbench/report.py`; the spans of the traced run are in "
             "`.bench_build/perfbench/traces/`.", "",
             "## End-to-end, untraced and traced", "",
             "| metric | untraced | traced | overhead |", "|---|---|---|---|"]
    for k in sorted(plain["e2e"]):
        u, t = plain["e2e"][k], traced["e2e"][k]
        over = f"{(t - u) / u:+.1%}" if u else "n/a"
        lines.append(f"| {k} | {fmt(u)} | {fmt(t)} | {over} |")

    lines += ["", "## Wall time per operation (traced run, mean per call)", "",
              "`job` is the union of Spark job intervals, `planning` the analysis, optimization "
              "and planning phases outside any job, `driver` the rest. The three add up to the "
              "wall time by construction. Table-format phases come from the op-timing seam; they "
              "nest (a `stage` contains the `append:*` it runs) and overlap across the program's "
              "threads, so they do not add up.", "",
              "| op | calls | wall s | job s | planning s | driver s | job+planning+driver | "
              "exec cpu s | jobs | table-format phases s |",
              "|---|---|---|---|---|---|---|---|---|---|"]
    costs = []
    for op, m in sorted(traced["ops"].items()):
        phases = ", ".join(f"{k[6:]} {v:.3g}" for k, v in sorted(m.items())
                           if k.startswith("phase.") and v >= 0.001)
        total = m["job_busy_s"] + m["planning_s"] + m["driver_other_s"]
        lines.append(f"| {op} | {int(m['calls'])} | {m['wall_mean_s']:.3f} | {m['job_busy_s']:.3f} | "
                     f"{m['planning_s']:.3f} | {m['driver_other_s']:.3f} | {total:.3f} | "
                     f"{m['exec_cpu_s']:.3f} | {m['jobs']:.1f} | {phases} |")
        for part in ("job_busy_s", "planning_s", "driver_other_s"):
            costs.append((m[part] * m["calls"], op, part))
    wall = sum(m["wall_mean_s"] * m["calls"] for m in traced["ops"].values())
    lines += ["", "## Top three costs", "",
              f"Share of the {wall:.2f} s of measured operation wall time in the traced run.", ""]
    for secs, op, part in sorted(costs, reverse=True)[:3]:
        lines.append(f"1. `{op}` {part.replace('_s', '')}: {secs:.2f} s ({secs / wall:.0%})")

    lines += ["", "## Per-layer metrics (traced run)", "",
              "Metrics that read zero (layers or operations this workload does not use) are left out.", "",
              "| metric | value | unit |", "|---|---|---|"]
    for k in sorted(layer):
        if layer[k]:
            lines.append(f"| {k} | {fmt(layer[k])} | {result['metrics'][k]['unit']} |")
    extra = {k: v for k, v in traced.items() if k not in ("e2e", "ops", "checks")}
    lines += ["", "## Run detail (traced run)", "", "```json",
              json.dumps(extra, indent=1, sort_keys=True), "```", "",
              "Checks: " + ", ".join(f"{c['name']} {'ok' if c['ok'] else 'FAILED'}"
                                      for c in traced["checks"]), ""]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"{a.workload}.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
