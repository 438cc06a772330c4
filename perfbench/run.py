#!/usr/bin/env python3
"""Benchmark runner for the transcript pipeline.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the benchmark's JVM program with sbt
on first use (the build is keyed by a hash of every source and build file),
generates the seeded input once per (input, seed, size) outside set-up,
starts one JVM with no more Spark threads than `nproc`, and prints two JSON
lines: a full record (host, input checksum, every pass, every metric) and,
last, the result: {"correct", "attempted", "failed", "metrics"}. A pass
whose output fails its check counts in `failed`. Exits non-zero without a
result when the build, the input, the JVM program or the self-test of the
checks fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# workload -> (generated input, input rows, Spark threads; None = nproc).
# Sized so that one run, build excluded, ends well inside the time limit
# on a 4-vCPU host (see NOTES.md). turns_agg_1 is turns_agg's job on the
# same input at one thread: the single-threaded baseline.
WORKLOADS = {"turns_agg": ("turns_agg", 400_000, None),
             "turns_agg_1": ("turns_agg", 400_000, 1),
             "turns_sinks": ("turns_sinks", 150_000, None),
             "corpus_curate": ("corpus_curate", 1_500, None)}
HEAP = "2g"
DEADLINE_S = 170  # a run must end within 180 s; keep a margin for exit



def declared(kind):
    """(name, unit) of each metric BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- host

def steal_s():
    """Seconds of CPU time stolen by the hypervisor, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_start():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "load_start": os.getloadavg()[0], "steal_start": steal_s()}


def host_end(h):
    h["load_end"] = os.getloadavg()[0]
    h["steal_s"] = round(steal_s() - h.pop("steal_start"), 3)
    return h


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        walk = [(os.path.dirname(p), [], [os.path.basename(p)])] if os.path.isfile(p) \
            else sorted(os.walk(p))
        for d, dirs, files in walk:
            dirs.sort()
            for name in sorted(files):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RuntimeError("timed out: " + " ".join(cmd[:3]))
    return p.returncode, out


def build(deadline):
    """Compile the JVM program against the project and return its launch line
    (classpath, JVM options). Rebuilt only when a source file changed."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RuntimeError("no project to build: %s missing" % need)
    target = os.path.join(HERE, "target")
    launcher = os.path.join(target, "launcher.txt")
    stamp = os.path.join(target, "launcher.stamp")
    key = source_hash()
    if not (os.path.exists(launcher) and os.path.exists(stamp) and open(stamp).read() == key):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        log("building the JVM program with sbt")
        code, out = run_bounded(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                                 "launcher"], deadline, cwd=HERE, env=env,
                                stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.exists(launcher):
            sys.stderr.write(out.decode(errors="replace")[-4000:])
            raise RuntimeError("sbt build failed")
        with open(stamp, "w") as f:
            f.write(key)
    with open(launcher) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


# ------------------------------------------------------------------ input

def inputs(kind, size, seed):
    """Generated input directory for (input kind, seed, size), made once."""
    d = os.path.join(ROOT, ".perfbench", "inputs", "%s-%d-%d" % (kind, seed, size))
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.monotonic()
        rows = gen.GENERATORS[kind](seed, size, d)
        with open(meta, "w") as f:
            json.dump({"rows": rows, "sha256": gen.checksum(d),
                       "gen_s": round(time.monotonic() - t0, 3)}, f)
    with open(meta) as f:
        return d, json.load(f)


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    host = host_start()
    kind, size, threads = WORKLOADS[a.workload]
    threads = threads or host["nproc"]

    try:
        cp, jvm_opts = build(time.monotonic() + 840)
        # the first run in a checkout builds; the run itself starts after
        deadline = max(deadline, time.monotonic() + DEADLINE_S - 20)
        in_dir, meta = inputs(kind, size, a.seed)
        work = os.path.join(ROOT, ".perfbench", "work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + jvm_opts + [
            "-cp", cp, "perfbench.Main", "--workload", kind, "--input", in_dir,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--threads", str(threads)]
        err_path = os.path.join(work, "stderr.txt")
        with open(err_path, "wb") as err:
            code, out = run_bounded(cmd, deadline, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
        out = out.decode(errors="replace") if out else ""
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if code != 0 or not lines:
            with open(err_path, errors="replace") as err:
                sys.stderr.write(err.read()[-3000:])
            raise RuntimeError("JVM program exited with %d" % code)
        r = json.loads(lines[-1][len("PERFBENCH "):])
        spans = os.path.join(work, "spans-%s.json" % kind)
        if os.path.exists(spans):
            keep = os.path.join(ROOT, ".perfbench", "spans-%s-%d.json" % (a.workload, a.seed))
            shutil.move(spans, keep)
            r["spans_file"] = os.path.relpath(keep, ROOT)
        shutil.rmtree(work, ignore_errors=True)
    except Exception as e:  # no result line on any failure
        log("failed: %s" % e)
        sys.exit(2)

    host = host_end(host)
    lv = r["levels"][0]
    for e in lv["errors"]:
        log("pass failed: " + e)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "threads": threads, "rows": r["rows"], "input_bytes": r["input_bytes"],
        "input_sha256": meta["sha256"],
        "host": dict(host, heap=HEAP, java=r["java"], spark=r["spark"], scala=r["scala"],
                     jit_ms_timed=lv["jit_ms"], gc_ms_timed=lv["gc_ms"]),
        "error_frac": lv["failed"] / lv["attempted"],
        "passes": lv,
    }
    if a.trace:
        metrics = {n: {"value": r["per_layer"][n], "unit": u} for n, u in declared("per_layer")}
        record.update(rows_per_s_untraced=r["rows_per_s_untraced"],
                      rows_per_s_traced=r["rows_per_s_traced"], traced_pass_s=r["traced_pass_s"],
                      prefix_s=r["prefix_s"], spans_file=r.get("spans_file"),
                      per_layer=r["per_layer"])
    else:
        values = {
            "rows_per_s": r["rows"] / statistics.median(lv["pass_s"]) if lv["pass_s"] else 0.0,
            "setup_s": r["setup_s"],
            "mem_peak_mb": lv["heap_after_gc_peak_mb"] + lv["cache_peak_mb"],
            "out_bytes_per_in_byte": r["out_bytes"] / r["input_bytes"],
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in declared("end_to_end")}
    record["metrics"] = metrics
    print(json.dumps(record))
    print(json.dumps({"correct": lv["failed"] == 0 and bool(lv["pass_s"]),
                      "attempted": lv["attempted"], "failed": lv["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
