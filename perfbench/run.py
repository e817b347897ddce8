"""Benchmark of the varinfo codebook update and the exactly-once ingest
gates. Run from the repository root:

    python3 perfbench/run.py --workload varinfo-x1 --seed 1 --seconds 15 \
        --trace 0

The first run builds the library and the harness with sbt. Each run then
generates its inputs from the seed, launches the harness JVM with the
repository's JVM options, checks the outputs, and prints every metric by
name and unit; the last line of standard output is one JSON object. See
README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402

WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = LAUNCH + ".stamp"
RUN_LIMIT_S = 170          # a run must end within 180 s
SETUP_SAMPLES = 2          # JVM starts per run; setup_s is their median
CORES = min(4, os.cpu_count() or 1)

# name -> (harness mode, generator arguments, nominal seconds of one warm
# unit on a 4-core box). A run measures round(--seconds / nominal) warm
# units, at least one: a fixed count per --seconds, so every run of a
# workload does the same work.
WORKLOADS = {
    "varinfo-x1": ("varinfo", {"scale": 1}, 3.75),
    "varinfo-x10": ("varinfo", {"scale": 10}, 25),
    "ingest": ("ingest", {"docs_per_batch": 210, "vecs_per_batch": 85}, 5),
}

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Digest of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the harness; write the launch spec."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} beside the benchmark: nothing to build")
    stamp = sources_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and all(
            os.path.exists(p) for p in launch_spec()[1]):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        try:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
        except FileNotFoundError:
            fail("sbt is not on PATH")
        try:
            p.wait(timeout=850)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)  # sbt's JVM with its script
            p.wait()
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def launch_spec():
    """(JVM options, classpath) the build wrote down."""
    opts, cp = [], []
    with open(LAUNCH) as f:
        for line in f:
            kind, value = line.rstrip("\n").split("\t", 1)
            (opts if kind == "opt" else cp).append(value)
    return opts, cp


def java_command(run_dir):
    opts, cp = launch_spec()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp",
                              os.pathsep.join(cp), "perfbench.Harness"]


def launch(cmd, run_dir, log, deadline):
    """Start the harness; return (process, seconds to its READY line).
    A thread keeps draining its standard output afterwards."""
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                         stderr=log, text=True)
    lines = queue.Queue()

    def pump():
        for line in p.stdout:
            lines.put(line)
        lines.put(None)

    threading.Thread(target=pump, daemon=True).start()
    while True:
        try:
            line = lines.get(timeout=max(0.1, deadline - time.monotonic()))
        except queue.Empty:
            line = None
        if line is None:
            break
        if line.strip() == "READY":
            return p, time.monotonic() - t0
    stop(p)
    fail("harness did not start, see " + log.name)


def stop(p):
    if p.poll() is None:
        p.kill()
    p.wait()


def run_harness(mode, args, run_dir, deadline):
    """Setup probes, then the measured process. Returns the result file
    contents with the setup samples added."""
    cmd = java_command(run_dir)
    log = open(os.path.join(run_dir, "harness.log"), "w")
    setups = []
    try:
        for _ in range(SETUP_SAMPLES - 1):
            p, s = launch(cmd + ["setup", str(CORES)], run_dir, log,
                          deadline)
            setups.append(s)
            stop(p)  # the probe has done its part once the session is up
        out = os.path.join(run_dir, "result.json")
        p, s = launch(cmd + [mode, str(CORES)] + args + [out], run_dir, log,
                      deadline)
        setups.append(s)
        try:
            p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop(p)
            fail("harness exceeded the run limit")
        if p.returncode != 0 or not os.path.exists(out):
            fail(f"harness exited with {p.returncode}, see {log.name}")
        with open(out) as f:
            result = json.load(f)
    finally:
        log.close()
    result["setup_s"] = setups
    return result


def varinfo_samples(units, truth, in_bytes):
    """End-to-end samples of warm varinfo units."""
    return {
        "step1_s": [u["phase1_s"] for u in units],
        "step2_s": [u["phase2_s"] for u in units],
        "readback_s": [x for u in units for x in u["readback_s"]],
        "records_per_s": [truth["prior_rows"] /
                          (u["phase1_s"] + u["phase2_s"]) for u in units],
        "state_bytes_per_input_byte": [u["out_bytes"] / in_bytes
                                       for u in units],
    }


def ingest_samples(seq, truth):
    """End-to-end samples of one warm batch sequence."""
    nb = seq["batches"]
    records = sum(len(checks.ingested(truth, k, nb))
                  for k in ("doc_ids", "vec_ids"))
    return {
        "step1_s": seq["sim_batch_s"],
        "step2_s": seq["emb_batch_s"],
        "readback_s": seq["readback_s"],
        "records_per_s": [records / seq["wall_s"]],
        "state_bytes_per_input_byte": [seq["state_bytes"] / (
            sum(truth["doc_batch_bytes"][:nb]) +
            sum(truth["vec_batch_bytes"][:nb]))],
    }


def end_to_end(mode, res, truth, in_dir):
    """(samples, samples of the traced units, untraced samples to compare
    them with) of one run."""
    units, traced = res["units"], res["traced_units"]
    if mode == "varinfo":
        in_bytes = sum(os.path.getsize(os.path.join(in_dir, f))
                       for f in ("responses.csv", "prior.csv"))
        samples = varinfo_samples(units[1:], truth, in_bytes)
        samples["first_run_s"] = [units[0]["phase1_s"] +
                                  units[0]["phase2_s"]]
        pair = (varinfo_samples(traced, truth, in_bytes), samples) \
            if traced else None
    else:
        samples = ingest_samples(units[0], truth)
        samples["first_run_s"] = [sum(res["first_batch_s"])]
        pair = (ingest_samples(traced[0], truth), samples) \
            if traced else None
    return samples, pair


def layer_metrics(mode, res, truth, samples, pair):
    """Per-layer metrics of a traced run. A layer the workload never calls
    reads 0: the run spent nothing there."""
    names = {m["name"] for m in SPEC["per_layer"]}
    out = {n: 0.0 for n in names}
    out.update(measure.per_layer(res["trace"], names))
    out["jvm.rss_peak_mb"] = res["rss_peak_kb"] / 1024.0
    traced, untraced = pair
    for k in ("step1_s", "step2_s", "readback_s"):
        out[f"trace_overhead.{k}"] = (measure.median(traced[k]) -
                                      measure.median(untraced[k]))
    if mode == "varinfo":
        pairs = truth["candidate_pairs"]
        out["ops.similarity_join.candidate_pairs"] = pairs
        out["ops.similarity_join.match_ratio"] = (
            out["ops.similarity_join.matches"] / pairs)
        out["ops.similarity_join.share_of_step1"] = (
            out["ops.similarity_join.s"] / measure.median(samples["step1_s"]))
    else:
        status = checks.read_verdicts(res["traced_units"][-1]["verdicts"])
        out["streaming.similarity_apply_batch.recall"] = checks.recall(
            status, truth["exact_dup_docs"] + truth["near_dup_docs"] +
            truth["stitched_docs"])
        out["streaming.embedding_apply_batch.recall"] = checks.recall(
            status, truth["exact_dup_vecs"] + truth["near_dup_vecs"])
    return {k: out[k] for k in sorted(names)}


def kernel_labels(res):
    return sorted({s.get("kernel") for s in res["trace"]["spans"]
                   if s.get("kernel")})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    build()
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 10)

    mode, params, nominal = WORKLOADS[a.workload]
    warm = max(1, round(a.seconds / nominal))
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    if mode == "varinfo":
        truth = gen.write_varinfo(in_dir, a.seed, params["scale"])
    else:
        truth = gen.write_ingest(in_dir, a.seed, warm, **params)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    res = run_harness(mode, [in_dir, out_dir, str(warm), str(a.trace)],
                      run_dir, deadline)

    results = (checks.varinfo if mode == "varinfo" else checks.ingest)(
        res, truth)
    for name, ok, detail in results:
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)
    for e in res["errors"]:
        print(f"call failed: {e}", file=sys.stderr)
    attempted = res["calls_attempted"] + len(results)
    failed = res["calls_failed"] + sum(1 for _, ok, _ in results if not ok)

    samples, pair = end_to_end(mode, res, truth, in_dir)
    samples["setup_s"] = res["setup_s"]
    report = {k: measure.summary(v) for k, v in samples.items()}
    if a.trace:
        metrics = layer_metrics(mode, res, truth, samples, pair)
        report["kernel"] = kernel_labels(res) if mode == "varinfo" else []
    else:
        metrics = {m["name"]: report[m["name"]]["median"]
                   for m in SPEC["end_to_end"]}
    report["error_rate"] = failed / attempted
    for k, v in sorted(report.items()):
        print(f"{k}: {v}")
    with open(os.path.join(WORK, f"last-{a.workload}-t{a.trace}.json"),
              "w") as f:
        json.dump({"report": report, "metrics": metrics,
                   "trace": res["trace"] if a.trace else None}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
