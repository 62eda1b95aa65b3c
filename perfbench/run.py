#!/usr/bin/env python3
"""Layered extraction benchmark.

    python3 perfbench/run.py --workload extract-mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Builds the program from source
(perfbench/build.py) and its class-data archive, then measures one workload
in fresh worker JVMs:

  --trace 0  a local[4] worker, then a local[1] worker (whose session starts
             alongside the first), each warmed up (kernel sweeps, 3 passes)
             and then timed for half of --seconds (at least 3 passes);
             prints the end-to-end metrics of BENCHMARK.json.
  --trace 1  one local[4] worker that times the job untraced and traced, then
             runs the per-layer probes; prints the per-layer metrics and
             writes the spans to .bench_build/traces/.

Every run checks the program's outputs (one row per input url, content rules,
a kernel re-extraction sample, local[1] and local[4] outputs equal row for
row) and appends a record with the host's load average before and after to
.bench_build/runs.jsonl. The last line of stdout is the JSON result.
Workloads, metrics and the layer map are described in perfbench/METRICS.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# input documents generated per workload (corpus-ops adds ~6% planted twins,
# recrawl-incremental's snapshot B is A minus 2% deleted plus 2% new urls)
DOCS = {
    "extract-mix": 4000,
    "snapshot-resume": 1500,
    "recrawl-incremental": 6000,
    "corpus-ops": 6000,
}
# a run's workers must be done this long after the build (the run limit is 180 s)
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def heap_mb():
    """Worker heap: an eighth of this machine's memory, 1-4 GiB."""
    total_kb = 16 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 1024 // 8))


class Worker:
    """A worker JVM at local[threads]. `ready_file` is a file it creates once its
    session is up; `wait_for` a file it waits for before any further work."""

    def __init__(self, cp, rundir, args, threads, traced, ready_file=None, wait_for=None,
                 docs=None, jvm=()):
        self.threads = threads
        self.out = os.path.join(rundir, "result-%d.json" % threads)
        self.log_path = os.path.join(rundir, "worker-%d.log" % threads)
        tmp = os.path.join(rundir, "tmp-%d" % threads)
        os.makedirs(tmp, exist_ok=True)
        heap = heap_mb()
        cmd = ["java", "-Xmx%dm" % heap, "-Xms%dm" % heap, "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + list(jvm)
        for p in ADD_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        cmd += ["-cp", os.pathsep.join(cp), "perfbench.Worker",
                "workload=" + args.workload, "seed=%d" % args.seed, "threads=%d" % threads,
                "docs=%d" % (docs or DOCS[args.workload]), "seconds=%s" % (args.seconds / 2.0),
                "input=" + os.path.join(rundir, "input"), "work=" + os.path.join(rundir, "work"),
                "out=" + self.out, "trace=%d" % (1 if traced else 0),
                "run=%s-%d" % (os.path.basename(rundir), threads)]
        cmd += ["signal=" + ready_file] if ready_file else []
        cmd += ["await=" + wait_for] if wait_for else []
        self.launched_ms = time.time() * 1000.0
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                         stdin=subprocess.DEVNULL)

    def result(self, deadline, other=None):
        """Waits for the worker to exit; fails early if `other` dies first."""
        while self.proc.poll() is None:
            if time.time() > deadline or (other is not None and other.proc.poll() not in (None, 0)):
                self.stop()
                break
            time.sleep(0.1)
        code = self.proc.returncode
        if code != 0 or not os.path.isfile(self.out):
            with open(self.log_path, errors="replace") as f:
                tail = f.read()[-3000:]
            raise RuntimeError("local[%d] worker failed (%s):\n%s" % (self.threads, code, tail))
        with open(self.out) as f:
            res = json.load(f)
        res["launched_ms"] = self.launched_ms
        res["exit_s"] = time.time()
        res["hashes"] = os.path.join(os.path.dirname(self.out), "hashes-%d.tsv" % self.threads)
        return res

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def class_archive(cp, state):
    """This build's class-data archive (JDK CDS): the classes a small
    snapshot-resume run loads, dumped once per build. Worker JVMs map it
    instead of loading and verifying thousands of Spark classes, which
    halves their session start. None if it could not be made."""
    jsa = os.path.splitext(cp[0])[0] + ".jsa"
    if not os.path.isfile(jsa):
        rundir = os.path.join(state, "runs", "class-archive")
        shutil.rmtree(rundir, ignore_errors=True)
        os.makedirs(rundir)
        args = argparse.Namespace(workload="snapshot-resume", seed=0, seconds=0.2)
        w = Worker(cp, rundir, args, 4, False, docs=200, jvm=["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"])
        try:
            w.result(time.time() + RUN_TIMEOUT_S)
            os.rename(jsa + ".tmp", jsa)
        except (RuntimeError, OSError) as e:
            print("perfbench: running without a class archive: %s" % str(e).splitlines()[0],
                  file=sys.stderr)
        finally:
            w.stop()
            shutil.rmtree(rundir, ignore_errors=True)
    return jsa if os.path.isfile(jsa) else None


def read_hashes(path):
    with open(path) as f:
        return dict(line.rstrip("\n").split("\t") for line in f if line.strip())


def mismatches(a, b):
    """Keys whose rows differ between two hash listings, or are in only one."""
    return sum(1 for k in set(a) | set(b) if a.get(k) != b.get(k))


def failures(res):
    return (sum(res["failures"].values()) + sum(res.get("probe_failures", {}).values())
            + res.get("redo_docs", 0))


def setup_seconds(res, gen_s):
    """Launch to first timed pass, less the time spent waiting for the other
    worker, plus the input generation it consumed."""
    own = (res["timed_start_ms"] - res["launched_ms"]) / 1000.0 - res.get("waited_s", 0.0)
    return own if "gen_s" in res else own + gen_s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build.build(root)

    state = os.path.join(root, ".bench_build")
    jsa = class_archive(cp, state)
    jvm = ["-XX:SharedArchiveFile=" + jsa] if jsa else []
    run_id = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    rundir = os.path.join(state, "runs", run_id)
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    load_before = os.getloadavg()
    deadline = time.time() + RUN_TIMEOUT_S
    workers = []
    try:
        if args.trace:
            workers.append(Worker(cp, rundir, args, 4, True, jvm=jvm))
            r4, r1 = workers[0].result(deadline), None
        else:
            # the local[1] JVM starts its session while the local[4] one
            # starts its own, then waits until the local[4] worker has exited
            ready1, done4 = os.path.join(rundir, "ready-1"), os.path.join(rundir, "done-4")
            workers.append(Worker(cp, rundir, args, 4, False, wait_for=ready1, jvm=jvm))
            workers.append(Worker(cp, rundir, args, 1, False, ready_file=ready1, wait_for=done4,
                                  jvm=jvm))
            r4 = workers[0].result(deadline, other=workers[1])
            open(done4, "w").close()
            r1 = workers[1].result(deadline)
        load_after = os.getloadavg()
        attempted = int(r4["attempted"])
        failed = failures(r4)
        if r1 is not None:
            failed += failures(r1) + mismatches(read_hashes(r1["hashes"]), read_hashes(r4["hashes"]))
        failed = min(failed, attempted)
        if args.trace:
            layers = r4["layers"]
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            record = {"flagged": False}
        else:
            gen_s = r4["gen_s"]
            n1, n4 = r1["docs_per_sec"], r4["docs_per_sec"]
            values = {
                "docs_per_sec_n1": n1,
                "docs_per_sec_n4": n4,
                "setup_s": statistics.median([setup_seconds(r4, gen_s), setup_seconds(r1, gen_s)]),
                "peak_heap_mb": r4["peak_heap_mb"],
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
            # a map-only job cannot be slower on 4 cores than on 1 unless the
            # host was contended: flag it, never drop it
            record = {"flagged": args.workload == "extract-mix" and n4 <= n1,
                      "scaling_eff": n4 / (4.0 * n1)}
        record.update({
            "run": run_id, "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "load_before": load_before, "load_after": load_after, "attempted": attempted,
            "failed": failed, "failures": {"local4": r4["failures"],
                                           "local1": r1["failures"] if r1 else None},
            "passes": {k: {"kernel_warm": r.get("kernel_warm_sweeps"), "warm": r["warm_walls"],
                           "timed": r["timed_walls"]}
                       for k, r in (("4", r4), ("1", r1)) if r is not None},
            "probe_failures": r4.get("probe_failures"),
            "resume_s": r4.get("resume_s"), "redo_docs": r4.get("redo_docs"),
            "phases_s": {k: {"session": (r["session_ready_ms"] - r["launched_ms"]) / 1e3,
                             "waited": r.get("waited_s"), "gen": r.get("gen_s"), "check": r["check_s"],
                             "total": r["exit_s"] - r["launched_ms"] / 1e3}
                         for k, r in (("4", r4), ("1", r1)) if r is not None},
            "metrics": {k: v["value"] for k, v in metrics.items()},
        })
        log = os.path.join(state, "runs.jsonl")
        with open(log, "a") as f:
            f.write(json.dumps(record) + "\n")
        with open(log) as f:
            history = [json.loads(line) for line in f if line.strip()]
        record["flagged_runs"] = sum(1 for h in history if h.get("flagged"))
        print(json.dumps(record))
        trace = os.path.join(rundir, "trace-%s-4.jsonl" % run_id)
        if os.path.isfile(trace):
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            shutil.move(trace, os.path.join(state, "traces", os.path.basename(trace)))
    finally:
        for w in workers:
            w.stop()
        shutil.rmtree(rundir, ignore_errors=True)

    ok = failed == 0 and all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                             for v in metrics.values())
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))


def on_term(signum, frame):
    sys.exit("perfbench: terminated by signal %d" % signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        sys.exit("perfbench: %s" % e)
