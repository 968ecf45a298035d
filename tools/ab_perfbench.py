#!/usr/bin/env python3
"""Interleaved A/B of two git refs on one perfbench workload.

Usage (from the repository root):
  python3 tools/ab_perfbench.py <base-ref> <change-ref> --workload <name>
      [--seeds 11-20] [--root DIR] [--out FILE] [--jfr]

Each ref is exported with `git archive` into its own directory under
--root (default: the system temp directory), removed at the end; `.`
stands for the working tree (tracked files plus untracked files that are
not ignored). Both checkouts are built once with perfbench's own build
step, so no build lands inside a measured pair. Then, for every seed,
each side runs `perfbench/run.py --trace 0` once for BENCHMARK.json's
`run_seconds`; which side goes first alternates from pair to pair. For
every end-to-end metric of BENCHMARK.json the report gives each side's
median and quartiles and the share of pairs the change won (ties count
for neither side), and says whether the gain rule holds: at least nine
tenths of the pairs won, and the medians further apart than the base's
interquartile range. Last, one `--trace 1` run per side (first seed) and
the exact counters (counts, bytes, write amplification) that differ
between them. Each side runs its own checkout's perfbench.

With --jfr, each side's traced run also records a Java Flight Recording
(through JAVA_TOOL_OPTIONS, so perfbench is unchanged) into --root, and the
report gives each side's `jdk.ProcessStart` count from `jfr summary`, how
many of those processes named the run's work directory (the per-file
`chmod` of Hadoop's local file system without libhadoop names it), and the
count per command.
"""
import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT_UNITS = {"count", "bytes"}
EXACT_EXTRA = {"sources.write_amp", "streaming.write_amp"}


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def export(ref, dest):
    """Materialize `ref` (or the working tree, for `.`) at `dest`."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if ref == ".":
        files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard")
        for rel in filter(None, files.split("\0")):
            src = os.path.join(ROOT, rel)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, rel))
        return
    archive = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def build(checkout):
    """perfbench's own build step (compile + class-data archive), outside
    any measured run."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.ensure_build()")
    subprocess.run([sys.executable, "-c", code], cwd=checkout, check=True)


def bench(checkout, workload, seed, seconds, trace, jfr=None):
    env = dict(os.environ)
    if jfr:
        env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-XX:StartFlightRecording=filename={jfr}"]))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, env=env)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {proc.returncode})")
    return json.loads(lines[-1])


def process_starts(jfr, work_dir):
    """`jdk.ProcessStart` in recording `jfr`: the `jfr summary` count, the
    number whose command line names `work_dir`, and the count per command."""
    summary = subprocess.run(["jfr", "summary", jfr], check=True,
                             capture_output=True, text=True).stdout
    total = next((int(line.split()[1]) for line in summary.splitlines()
                  if line.split()[:1] == ["jdk.ProcessStart"]), 0)
    printed = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr],
                             check=True, capture_output=True, text=True).stdout
    commands = [e["values"]["command"]
                for e in json.loads(printed)["recording"]["events"]]
    per_command = collections.Counter(
        os.path.basename(c.split()[0]) if c.split() else "?" for c in commands)
    return {"total": total, "naming_work_dir": sum(work_dir in c for c in commands),
            "per_command": dict(sorted(per_command.items()))}


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def num(v):
    """Counters print in full, other values to four digits."""
    if v is None:
        return "-"
    return f"{int(v):,}" if float(v).is_integer() else f"{v:.4g}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def compare(sides, workload, seeds, seconds, spec, names, jfr_dir=None):
    """The interleaved pairs, the end-to-end report and the traced
    counter diff; returns the JSON summary."""
    runs = {"base": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for label in order:
            res = bench(sides[label], workload, seed, seconds, 0)
            runs[label].append(dict(res, seed=seed))
        print(f"{workload} pair {i + 1}/{len(seeds)} seed {seed} ({order[0]} first): " + "  ".join(
            f"{m}={runs['base'][-1]['metrics'][m]['value']:.4g}"
            f"/{runs['change'][-1]['metrics'][m]['value']:.4g}"
            for m in sorted(runs["base"][-1]["metrics"])), flush=True)

    summary = {"seeds": seeds, "seconds": seconds, "metrics": {}}
    print(f"\n{workload}: {len(seeds)} pairs, base {names['base']} vs change {names['change']}")
    for label in runs:
        bad = sum(1 for r in runs[label] if not r["correct"])
        print(f"  {label}: {len(runs[label]) - bad}/{len(runs[label])} runs correct")
    print(f"  {'metric':<14}{'base q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'Δmed':>9}{'won':>7}  gain rule")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        won = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        bq, cq = quartiles(b), quartiles(c)
        gap = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
        holds = won >= 0.9 * len(b) and gap > bq[2] - bq[0]
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"  {name:<14}{fmt(bq):>30}{fmt(cq):>30}{delta:>+9.1%}"
              f"{f'{won}/{len(b)}':>7}  {'holds' if holds else 'no'}")
        summary["metrics"][name] = {"base": b, "change": c, "base_quartiles": bq,
                                    "change_quartiles": cq, "won": won,
                                    "pairs": len(b), "gain_rule_holds": holds}

    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    jfrs = {label: os.path.join(jfr_dir, f"{os.path.basename(sides[label])}.jfr")
            for label in sides} if jfr_dir else {}
    traced = {label: bench(sides[label], workload, seeds[0], seconds, 1, jfrs.get(label))
              for label in ("base", "change")}
    print(f"\n{workload} exact counters, one --trace 1 run per side (seed {seeds[0]}); "
          "differing only:")
    diffs = {}
    for name in sorted(traced["base"]["metrics"]):
        if units.get(name) not in EXACT_UNITS and name not in EXACT_EXTRA:
            continue
        b = traced["base"]["metrics"][name]["value"]
        c = traced["change"]["metrics"].get(name, {}).get("value")
        if b != c:
            diffs[name] = [b, c]
            print(f"  {name:<48}{num(b):>16} → {num(c)}")
    if not diffs:
        print("  (none)")
    print("  trace.counter_repeat_share: " + ", ".join(
        f"{label} {num(t['metrics']['trace.counter_repeat_share']['value'])}"
        for label, t in traced.items()))
    if jfrs:
        starts = {label: process_starts(
            path, os.path.realpath(os.path.join(sides[label], ".bench_build", "work")))
            for label, path in jfrs.items()}
        print("  jdk.ProcessStart (JFR, traced run): " + ", ".join(
            f"{label} {s['total']} ({s['naming_work_dir']} naming the work dir; "
            + " ".join(f"{k}={v}" for k, v in s["per_command"].items()) + ")"
            for label, s in starts.items()))
        print("  recordings: " + ", ".join(jfrs.values()))
        summary["process_starts"] = starts
    print(flush=True)
    summary["traced"] = {label: {"correct": t["correct"], "metrics": t["metrics"]}
                         for label, t in traced.items()}
    summary["counter_diffs"] = diffs
    summary["runs"] = runs
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--root", default=tempfile.gettempdir())
    ap.add_argument("--out", help="write every run and the summary as JSON here")
    ap.add_argument("--jfr", action="store_true",
                    help="record the traced runs with JFR and report process starts")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    known = {w["name"] for w in spec["workloads"]}
    if args.workload not in known:
        ap.error(f"unknown workload {args.workload}; known: {sorted(known)}")
    seeds = seeds_of(args.seeds)
    sides, names = {}, {"base": args.base, "change": args.change}
    for label, ref in names.items():
        name = "worktree" if ref == "." else git("rev-parse", "--short=12", ref).strip()
        sides[label] = os.path.join(args.root, f"ab-{label}-{name}")
        export(ref, sides[label])
        print(f"{label}: {ref} ({name}) at {sides[label]}; building", flush=True)
        build(sides[label])

    try:
        summary = dict(compare(sides, args.workload, seeds, spec["run_seconds"], spec, names,
                               args.root if args.jfr else None),
                       base=args.base, change=args.change, workload=args.workload)
    finally:
        for path in sides.values():
            shutil.rmtree(path, ignore_errors=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
