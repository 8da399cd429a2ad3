#!/usr/bin/env python3
"""Benchmark entry point.

    python3 vbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, once per source
change), generates the workload's inputs from the seed, runs the harness
JVM with one client on local[nproc], checks the outputs and prints one
JSON result as the last line of stdout.  With --trace 0 it reports the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Everything it writes goes under vbench/.work (and the sbt target dirs).
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # a run must end within 180 s
GEN_REPEATS = 3

# Input sizes per workload; see README.md for how they were chosen.
SIZES = {
    "pipeline_paired": dict(pairs=2000),
    "sql_tools": dict(reads=4000, alignments=4000, hits=4000, mix=25),
    "corpus_prep": dict(docs=800),
}

# Per-layer metrics each workload measures; the others read 0 on it
# because that workload does not run the layer.
EVERY_WORKLOAD = {"spark.jobs", "spark.stages", "spark.shuffle_stages",
                  "spark.task_s", "spark.cpu_s", "spark.gc_s",
                  "spark.shuffle_write_mb", "spark.spill_mb", "spark.skew",
                  "spark.driver_gap_s"}
OWN_LAYERS = {
    "pipeline_paired": EVERY_WORKLOAD | {
        "pipe.spawns", "pipe.align_spawns", "pipe.proc_s", "pipe.failed_spawns",
        "pipe.spawns_needed",
        "pipe.spawn_efficiency", "pipe.align_s", "pipe.assemble_s",
        "pipe.blastn_s", "pipe.hmmsearch_s", "operators.interleave_s",
        "operators.quality_filter_s", "operators.normalize_s",
        "operators.blast_filter_s", "functions.kmers_s", "functions.orfs_s",
        "io.fastq_read_s", "operators.contig_digest_changes", "trace.overhead_s"},
    "sql_tools": EVERY_WORKLOAD | {
        "sql.load_ms", "sql.plan_ms", "sql.exec_ms", "io.fastq_scan_s",
        "io.sam_scan_s", "io.blast_scan_s", "io.sink_s",
        "spark.jobs_per_query", "spark.driver_gap_ms_per_query"},
    "corpus_prep": EVERY_WORKLOAD | {
        "functions.text_gate_s", "operators.curate_s", "operators.lsh_pairs_s",
        "operators.cc_s", "operators.cc_jobs", "operators.decontaminate_s",
        "operators.media_encode_s", "operators.phash_s", "operators.clip_s",
        "operators.keep_ratio"},
}

JVM_OPTS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + ["-Xmx3g", "-Xmn1g"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[vbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def _source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = _source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    log("building engine and harness with sbt")
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        p = _spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, dict(os.environ),
                   logf, subprocess.PIPE)
        out, _ = _wait(p, deadline - time.time(), "sbt build")
    lines = out.decode(errors="replace").splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        raise BenchError("sbt build failed; see vbench/.work/build.log\n"
                         + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def _spawn(cmd, cwd, env, stderr, stdout):
    return subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)


def _wait(p, timeout, what):
    """Wait for `p`; kill its whole process group on timeout or error."""
    try:
        out, err = p.communicate(timeout=max(timeout, 1))
    except BaseException:
        _kill_group(p)
        p.wait()
        raise BenchError(f"{what} did not finish in time")
    _kill_group(p)  # leftovers such as tool processes
    return out, err


def _kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def _dir_digest(d):
    h = hashlib.sha256()
    for root, dirs, names in os.walk(d):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(root, n)
            h.update(os.path.relpath(f, d).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, dest):
    """Generate the inputs GEN_REPEATS times; returns the median seconds.
    The repeats must be byte-identical."""
    nfiles = max(4, cpus())
    fn = {"pipeline_paired": gen.gen_pipeline, "sql_tools": gen.gen_sql,
          "corpus_prep": gen.gen_corpus}[workload]
    times, digests = [], []
    for rep in range(GEN_REPEATS):
        tmp = os.path.join(WORK, f"gen{rep}")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        fn(tmp, seed, nfiles=nfiles, **SIZES[workload])
        times.append(time.perf_counter() - t0)
        digests.append(_dir_digest(tmp))
    if len(set(digests)) != 1:
        raise BenchError("the generator gave different files for one seed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(os.path.join(WORK, f"gen{GEN_REPEATS - 1}"), dest)
    for rep in range(GEN_REPEATS - 1):
        shutil.rmtree(os.path.join(WORK, f"gen{rep}"), ignore_errors=True)
    return statistics.median(times)


def shim_env(on):
    """Environment for the harness JVM; with `on`, the logging tool shim
    is first on PATH."""
    env = dict(os.environ)
    if not on:
        return env
    real = shutil.which("awk")
    if real is None:
        raise BenchError("awk not found on PATH")
    sdir = os.path.join(WORK, "shim")
    os.makedirs(sdir, exist_ok=True)
    shutil.copyfile(os.path.join(HERE, "shim", "awk"), os.path.join(sdir, "awk"))
    os.chmod(os.path.join(sdir, "awk"), 0o755)
    logf = os.path.join(WORK, "shim.log")
    open(logf, "w").close()
    if os.path.exists(logf + ".off"):  # left by an earlier traced run
        os.remove(logf + ".off")
    env.update(PATH=sdir + os.pathsep + env.get("PATH", ""),
               VBENCH_SHIM_LOG=logf, VBENCH_REAL_TOOL=real)
    return env


def run_jvm(classpath, workload, inp, seconds, trace, out, env, deadline):
    jwork = os.path.join(WORK, "jvm")
    shutil.rmtree(jwork, ignore_errors=True)
    os.makedirs(os.path.join(jwork, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={jwork}/tmp", "-cp", classpath,
           "vbench.Main", "--workload", workload, "--input", inp, "--work", jwork,
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--out", out, "--cpus", str(cpus())]
    jlog = os.path.join(WORK, "jvm.log")
    with open(jlog, "w") as logf:
        p = _spawn(cmd, HERE, env, logf, logf)
        _wait(p, deadline - time.time(), "harness JVM")
    if p.returncode != 0:
        with open(jlog, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited {p.returncode}:\n{tail}")


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    deadline = start + DEADLINE_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("engine sources not found next to the benchmark")
    os.makedirs(WORK, exist_ok=True)
    end_to_end, per_layer = metric_specs()
    classpath = build(start + 900)
    if time.time() - start > 60:  # a fresh build: this run gets its own budget
        deadline = time.time() + DEADLINE_S

    inp = os.path.join(WORK, "in", f"{a.workload}-{a.seed}")
    os.makedirs(os.path.dirname(inp), exist_ok=True)
    gen_s = generate(a.workload, a.seed, inp)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)

    run_jvm(classpath, a.workload, inp, a.seconds, a.trace, out,
            shim_env(bool(a.trace)), deadline)
    with open(out) as f:
        res = json.load(f)
    got = res["metrics"]
    got["setup_s"] = gen_s + got.pop("setup_jvm_s")
    for note in res["notes"]:
        log(note)

    specs = per_layer if a.trace else end_to_end
    own = OWN_LAYERS[a.workload] if a.trace else {m["name"] for m in end_to_end}
    metrics, missing = {}, []
    for m in specs:
        v = got.get(m["name"], None if m["name"] in own else 0.0)
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name in missing:
        log(f"metric {name} was not measured")
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "failed_share": failed / max(attempted, 1),
                      "notes": res["notes"]}))
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _on_term(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_term)  # so children are killed too
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
