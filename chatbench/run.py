#!/usr/bin/env python3
"""Chat-pipeline benchmark: `graft.pipeline.Runner` end to end on seeded,
generated chat corpora, plus a traced run with per-layer numbers.

    python3 chatbench/run.py --workload clean_filter --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
harness (`chatbench/build.py`); inputs are generated once per
(workload, seed) under `.bench_work/`. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
full run record is written to `.bench_work/records/`. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("clean_filter", "dedup_batch")
SETUP_SAMPLES = 2  # the run's own JVM plus a set-up-only JVM
RUN_BUDGET = 170  # seconds a run may take once the build is done
SETUP_TIMEOUT = 30

END_TO_END = [("setup_s", "s"), ("warm_pass_s", "s"), ("msgs_per_s", "1/s")]
COUNTER_UNITS = {"jobs": "count", "tasks": "count",
                 "shuffle_write_bytes": "bytes", "outside_jobs_s": "s"}
TEXT_OPS = ("fix_utf8_encoding", "normalize_whitespace",
            "normalize_punctuation", "remove_empty_lines",
            "check_word_number", "check_completion", "check_char_repetition",
            "check_lowercase_ratio", "check_nsfw_words", "check_ethics")
PER_LAYER = (
    [("sources.load_s", "s"), ("sources.publish_s", "s"),
     ("sources.publish_bytes", "bytes"),
     ("chat.explode_s", "s"), ("chat.explode_rows", "count"),
     ("chat.chatml_s", "s"),
     ("text.clean_s", "s"), ("text.filter_s", "s"),
     ("text.kept_frac", "ratio")]
    + [(f"text.{op}_rows_per_s", "1/s") for op in TEXT_OPS]
    + [("pipeline.response_pass_s", "s"),
       ("pipeline.instruction_pass_s", "s"),
       ("dedup.signature_s", "s"), ("dedup.signature_rows_per_s", "1/s"),
       ("dedup.cluster_s", "s"), ("dedup.bucket_collisions", "count"),
       ("dedup.removed_rows", "count"),
       ("dedup.removed_per_collision", "ratio"),
       ("dedup.planted_recall", "ratio"),
       ("dedup.store_write_s", "s"), ("dedup.store_lookup_s", "s"),
       ("dedup.store_bytes", "bytes")]
    # Spark counters per layer span; the ones that are zero by construction
    # at these sizes (no shuffle in load/publish/text, no spill, no jobs
    # of the pipeline span's own) are left out
    + [(f"{layer}.{k}", u) for layer, keys in (
        ("sources", ("jobs", "tasks", "outside_jobs_s")),
        ("chat", ("jobs", "tasks", "shuffle_write_bytes", "outside_jobs_s")),
        ("text", ("jobs", "tasks", "outside_jobs_s")),
        ("pipeline", ("outside_jobs_s",)),
        ("dedup", ("jobs", "tasks", "shuffle_write_bytes", "outside_jobs_s")))
       for k in keys for u in [COUNTER_UNITS[k]]]
    + [("spark.task_gc_s", "s"), ("spark.codegen_compile_s", "s"),
       ("jvm.cold_pass_s", "s"), ("jvm.heap_peak_mb", "MB"),
       ("trace.overhead_s", "s")])
# printed by every run, whichever list the JSON result carries
REPORT = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
          ("msgs_per_s", "1/s"), ("heap_peak_mb", "MB"),
          ("failed_frac", "ratio")]

LOAD_VALID_MAX, LOAD5_VALID_MAX = 2.0, 4.0  # graft.Bench's load rule


def fail(msg):
    sys.stderr.write(f"chatbench: {msg}\n")
    sys.exit(2)


def java(cp, work, main_args, log, timeout):
    cmd = ["java"] + build.jvm_options(work) + ["-cp", cp,
                                                 "chatbench.Harness"]
    return subprocess.run(cmd + main_args, stdout=subprocess.PIPE,
                          stderr=log, text=True, timeout=timeout)


def inputs(root, cp, work, run_dir, workload, seed, log):
    """Generated corpus for (workload, seed), made once and then reused
    while the generator and the program's word lists are unchanged."""
    lists_file = os.path.join(root, build.WORDLISTS)
    if not os.path.exists(lists_file):
        r = java(cp, run_dir, ["--mode", "lists"], log, SETUP_TIMEOUT)
        if r.returncode != 0:
            fail("could not read the program's word lists")
        with open(lists_file, "w") as f:
            f.write(r.stdout.strip().splitlines()[-1])
    lists = open(lists_file, "rb").read()
    key = hashlib.sha256(open(gen.__file__, "rb").read() + lists).hexdigest()
    data = os.path.join(work, "data", f"{workload}-s{seed}-{key[:12]}")
    exp_file = os.path.join(data, "expected.json")
    if not os.path.exists(exp_file):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, json.loads(lists), tmp)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data, json.load(open(exp_file))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (os.path.join(run_dir, "tmp"), os.path.join(work, "records")):
        os.makedirs(d, exist_ok=True)
    try:
        cp = build.ensure(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.time() + RUN_BUDGET
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    data, exp = inputs(root, cp, work, run_dir, a.workload, a.seed, log)

    template = open(os.path.join(HERE, "configs", f"{a.workload}.yaml")).read()
    config = os.path.join(run_dir, "config.yaml")
    with open(config, "w") as f:
        f.write(template.replace("  - dataset_path: @INPUT@\n", "".join(
            f"  - dataset_path: {data}/input-{i}.parquet\n"
            for i in range(gen.INPUT_FILES))))

    load_before = os.getloadavg()
    out = os.path.join(run_dir, "result.json")
    spawned = time.time()
    try:
        r = java(cp, run_dir,
                 ["--mode", "run", "--workload", a.workload,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--work", run_dir, "--config", config,
                  "--out", out, "--exp_rows", str(exp["rows"]),
                  "--exp_digest", exp["digest"]], log,
                 deadline - time.time() - SETUP_TIMEOUT * (SETUP_SAMPLES - 1))
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited {r.returncode}; see {log.name}")
    res = json.load(open(out))
    setup = [res["ready_epoch_s"] - spawned]
    for _ in range(SETUP_SAMPLES - 1):
        t = time.time()
        s = java(cp, run_dir, ["--mode", "setup", "--work", run_dir], log,
                 SETUP_TIMEOUT)
        ready = [ln for ln in s.stdout.splitlines() if ln.startswith("READY")]
        if s.returncode != 0 or not ready:
            fail("set-up JVM failed")
        setup.append(float(ready[-1].split()[1]) - t)
    load_after = os.getloadavg()
    log.close()

    warm = res["warm_pass_s"]
    correct = res["failed"] == 0 and len(warm) > 0
    e2e = {}
    if warm:
        w = statistics.median(warm)
        e2e = {"setup_s": statistics.median(setup),
               "cold_pass_s": res["cold_pass_s"],
               "warm_pass_s": w,
               "msgs_per_s": exp["input_messages"] / w,
               "heap_peak_mb": statistics.median(res["heap_peak_mb"])}
    layer = res["per_layer"]
    if warm and a.trace:
        # the cold pass and the post-GC heap peak vary by more than the
        # end-to-end bounds allow between runs, so they are diagnostics
        layer["jvm.cold_pass_s"] = e2e["cold_pass_s"]
        layer["jvm.heap_peak_mb"] = e2e["heap_peak_mb"]
    units = dict(END_TO_END + PER_LAYER)
    names = [n for n, _ in (PER_LAYER if a.trace else END_TO_END)]
    values = layer if a.trace else e2e
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names
               if values.get(n) is not None}
    if len(metrics) < len(names):
        correct = False
    if a.trace and a.workload == "dedup_batch" and \
            (layer.get("dedup.planted_recall") or 0) < 0.99:
        correct = False
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "cores_used": res["cores"],
        "spark_version": res["spark_version"],
        "java_version": res["java_version"],
        "input_rows": exp["input_rows"],
        "input_messages": exp["input_messages"],
        "input_bytes": exp["input_bytes"], "planted_rates": exp["rates"],
        "loadavg_before": load_before[:2], "loadavg_after": load_after[:2],
        "load_invalid": load_before[0] > LOAD_VALID_MAX
        or load_before[1] > LOAD5_VALID_MAX,
        "setup_samples_s": setup, "warm_pass_samples_s": warm,
        "warm_pass_cpu_samples_s": res["warm_pass_cpu_s"],
        "warm_pass_jit_samples_s": res["warm_pass_jit_s"],
        "warmup_pass_samples_s": res["warmup_pass_s"],
        "cold_pass_cpu_s": res["cold_pass_cpu_s"],
        "failed_frac": res["failed"] / res["attempted"],
        "trace_digest_equal": res["trace_digest_equal"],
        "end_to_end": e2e, "per_layer": layer, "log": res["log"]}
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(spawned)}.json"
    with open(os.path.join(work, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(work, "records", name[:-5] + "-spans.json"))
    for n, u in REPORT:
        v = record["failed_frac"] if n == "failed_frac" else e2e.get(n)
        print(f"{a.workload:18s} {n:28s} {v!s:>22} {u}")
    if a.trace:
        for n, u in PER_LAYER:
            print(f"{a.workload:18s} {n:28s} {layer.get(n)!s:>22} {u}")
    for line in res["log"]:
        print(f"{a.workload:18s} note: {line}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
