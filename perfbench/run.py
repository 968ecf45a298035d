#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: three workloads, one JVM per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <star_etl|corpus_curation|maintained_state>
      --seed <n> --seconds <s> --trace <0|1> [--negative <drop_row|skip_forget>]

The first run in a checkout builds the program and the benchmark driver
from source with sbt (perfbench/build.sbt depends on the repository's own
build); later runs reuse the build while the sources are unchanged. Each
run generates its inputs from the seed, starts one JVM (`local[N]`, N at
most 4, shuffle partitions = N) that warms up, then runs verified passes
back to back for `--seconds`. The last stdout line is the result:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The full record (every pass, span counters, host load bracket) is written
to .bench_build/results/.

`--negative` is a control that must fail: `drop_row` loses one output row
(star_etl, corpus_curation), `skip_forget` skips the chunk-index erasure
(maintained_state).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
TRAIN_LIMIT_S = 240
HEAP = "2g"
GEN_REPEATS = 3

sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes: the star tables at 1/200 of TPC-H scale factor 1, the corpus at 500 documents and 500
# vectors, maintained state over 500 documents (half history folded
# in as one micro-batch, a 5% erasure cohort).
STAR_ROWS = {"customer": 750, "supplier": 50, "part": 1000,
             "orders": 7500, "lineitem": 30000}
CORPUS_DOCS, CORPUS_VECS = 500, 500
STATE_DOCS, STATE_BATCHES, STATE_COHORT = 500, 1, 0.05


def inputs(workload, out_dir, seed):
    """Generate the workload's inputs; returns rows a pass reads."""
    if workload == "star_etl":
        rows = gen.generate(out_dir, gen.star_tables(STAR_ROWS), seed)
        return sum(rows.values())
    if workload == "corpus_curation":
        # the text queries read documents, the similarity and retrieval
        # queries embeddings too
        rows = gen.generate(out_dir, gen.corpus_tables(CORPUS_DOCS, CORPUS_VECS), seed)
        return rows["documents"] + rows["embeddings"]
    docs = gen.corpus_tables(STATE_DOCS, 1)["documents"]
    rows = gen.generate(out_dir, {"documents": docs}, seed, batches=STATE_BATCHES,
                        cohort_share=STATE_COHORT)
    return rows["documents"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of everything the build compiles, to decide on a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, subdirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def java_cmd(launch, *extra):
    """The benchmark JVM command line for launch file `launch`."""
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            "-Duser.timezone=UTC", *extra, *lines[1:],
            "-cp", lines[0], "perfbench.Main"]


def train_archive(launch, archive):
    """Run one `star_etl` pass in a JVM that writes a class-data-sharing
    archive at exit; later runs map it instead of loading and verifying
    Spark's classes one by one (about 4 s of every session start)."""
    train = os.path.join(BUILD_DIR, "train")
    shutil.rmtree(train, ignore_errors=True)
    inputs("star_etl", os.path.join(train, "data"), seed=0)
    os.makedirs(os.path.join(train, "tmp"))
    cmd = java_cmd(launch, f"-XX:ArchiveClassesAtExit={archive}",
                   f"-Djava.io.tmpdir={os.path.join(train, 'tmp')}")
    cmd += ["--workload", "train", "--data", os.path.join(train, "data"),
            "--work", os.path.join(train, "work")]
    with open(os.path.join(BUILD_DIR, "train.log"), "w") as log:
        try:
            subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=TRAIN_LIMIT_S)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(train, ignore_errors=True)


def ensure_build():
    """Compile with sbt unless the stamped build matches the sources."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    launch = os.path.join(BUILD_DIR, "launch.txt")
    digest = sources_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return launch
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        try:
            code = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "benchLaunch"], cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {log_path}", 3)
    shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    train_archive(launch, os.path.join(BUILD_DIR, "classes.jsa"))
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch


def host_reader():
    """The load readers of tools/anchor_bench.py, when that file exists."""
    path = os.path.join(ROOT, "tools", "anchor_bench.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("anchor_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def host_sample(mod):
    if mod is None:
        return None
    return {"loadavg": mod.loadavg(), "cpu": mod.proc_stat_cpu()}


def host_bracket(mod, before, after):
    if mod is None:
        return None
    out = {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"]}
    d = mod.counter_deltas(before["cpu"], after["cpu"])
    if d and d["total"] > 0:
        out.update(steal_pct=round(100.0 * d["steal"] / d["total"], 3),
                   iowait_pct=round(100.0 * d["iowait"] / d["total"], 3),
                   busy_pct=round(100.0 * (d["total"] - d["idle"]) / d["total"], 2))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["star_etl", "corpus_curation", "maintained_state"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--negative", choices=["none", "drop_row", "skip_forget"], default="none")
    args = ap.parse_args()
    started = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"program sources not found under {ROOT}", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    launch = ensure_build()

    work = os.path.join(ROOT, ".bench_build", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    gen_times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        input_rows = inputs(args.workload, data, args.seed)
        gen_times.append(time.perf_counter() - t0)
    gen_s = statistics.median(gen_times)

    hosts = host_reader()
    host0 = host_sample(hosts)
    cores = min(4, os.cpu_count() or 1)
    result_path = os.path.join(work, "result.json")
    archive = os.path.join(BUILD_DIR, "classes.jsa")
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = java_cmd(launch, *cds, f"-Djava.io.tmpdir={tmp}") + [
           "--workload", args.workload, "--data", data, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--input-rows", str(input_rows),
           "--negative", args.negative, "--result", result_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            code = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started))
                                  ).returncode
        except subprocess.TimeoutExpired:
            code = -1
    host1 = host_sample(hosts)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {code}); log in {log_path}", 4)
    with open(result_path) as fh:
        res = json.load(fh)

    setup = res["setup"]
    setup["gen_s"] = gen_times
    if args.trace:
        wanted, values = spec["per_layer"], res["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = dict(res["end_to_end"],
                      setup_s=gen_s + setup["session_s"] + setup["warm_pass_s"])
    names = {m["name"] for m in wanted}
    if names != set(values):
        fail(f"metric names differ from BENCHMARK.json: {sorted(names ^ set(values))}", 5)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    res.update(fail_ratio=res["failed"] / max(1, res["attempted"]),
               seed=args.seed, seconds=args.seconds, trace=args.trace,
               negative=args.negative, input_rows=input_rows,
               host=host_bracket(hosts, host0, host1), metrics=metrics)
    out_dir = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    if args.negative != "none":
        name += f"_{args.negative}"
    with open(os.path.join(out_dir, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
