#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the program from source (first run
only), generates the seed's inputs (cached per seed), starts the program in
its own JVM on every core of this machine, drives it through its public
API, checks the outputs and prints one JSON result as the last line of
stdout. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics (see perfbench/README.md). Any failed check exits
non-zero without a result line.
"""

import argparse
import json
import os
import queue
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import build, checks, loadgen, report  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_local", "serve_lake", "ingest_video", "curate_corpus")
DEADLINE_S = 170
WARM_S = {"serve_local": 1.5, "serve_lake": 1.0}
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """An eighth of MemTotal, clamped to [2, 8] GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // (8 << 20)))


def java_cmd(main_args, heap, work):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap, so peak RSS does not follow the collector's resizing
    return (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.awt.headless=true", f"-Djava.io.tmpdir={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", build.classpath(os.path.join(OUT, "classes")), "graft.perfbench.Main"] + main_args)


def inputs_for(workload, seed):
    """The seed's inputs, generated once and cached. The generator calls
    program code (the query descriptor, the clip writer), and curate's
    stored output hash lives beside the inputs, so the key is the digest of
    every compiled source: inputs and hash are reused only by the same
    code."""
    d = os.path.join(OUT, "inputs", f"{workload}-{seed}-{build.source_digest(ROOT)}")
    if os.path.isfile(os.path.join(d, "manifest.json")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run(java_cmd(["gen", workload, str(seed), tmp], 2, tmp),
                   check=True, timeout=120, stdout=sys.stderr)
    os.rename(tmp, d)
    return d


class Jvm:
    """The process under test, speaking `@@ {json}` lines on stdout."""

    def __init__(self, cmd, env, logfile):
        self.log = open(logfile, "w")
        self.p = subprocess.Popen(cmd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, start_new_session=True)
        self.events = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith("@@ "):
                self.events.put(json.loads(line[3:]))
            else:
                self.log.write(line)
        self.events.put(None)

    def expect(self, event, timeout):
        ev = self.events.get(timeout=timeout)
        if ev is None or ev.get("event") != event:
            raise RuntimeError(f"JVM: expected '{event}', got {ev!r} (exit {self.p.poll()})")
        return ev

    def send(self, cmd):
        self.p.stdin.write(cmd + "\n")
        self.p.stdin.flush()

    def stop(self):
        if self.p.poll() is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.p.wait()
        self.log.close()


def drive_serving(jvm, workload, inputs, seconds, seed, trace):
    """The open-loop phase of a serving workload; returns the requests."""
    ready = jvm.expect("ready", 150)
    qdir = os.path.join(inputs, "queries")
    payloads = {("search", i): open(os.path.join(qdir, f), "rb").read()
                for i, f in enumerate(sorted(os.listdir(qdir)))}
    ports = {"search": ready["search_port"]}
    routes = ["search"]
    if workload == "serve_local":
        texts = open(os.path.join(inputs, "hybrid_queries.txt"), encoding="utf-8").read().split("\n")
        payloads.update({("hybrid", i): t.encode("utf-8") for i, t in enumerate(texts)})
        ports["hybrid"] = ready["hybrid_port"]
        routes.append("hybrid")
    rnd = random.Random(seed)
    nq = {r: sum(1 for k in payloads if k[0] == r) for r in routes}
    sent = [0]

    def pick():
        # No traffic mix of the reference is published, and it serves only
        # /search; the even split is an assumption that gives both routes
        # the same sample. Routes strictly alternate, so each step's
        # per-route count is fixed.
        r = routes[sent[0] % len(routes)]
        sent[0] += 1
        return r, rnd.randrange(nq[r])

    workers = cpus()
    # warm every payload once per route, outside the window
    now = time.monotonic_ns()
    warm = [loadgen.Request(r, i, now) for (r, i) in sorted(payloads)]
    loadgen.run(warm, ports, payloads, workers, drain_s=60)
    bad = [w.record() for w in warm if w.status != 200]
    checks.expect(not bad, f"warm-up requests failed: {bad[:3]}")

    # then the reference rate until the JIT has compiled the request path
    warm, _ = loadgen.schedule([(report.REFERENCE_RATE[workload], WARM_S[workload])], pick,
                               time.monotonic_ns())
    loadgen.run(warm, ports, payloads, workers)
    bad = [w.record() for w in warm if w.status != 200]
    checks.expect(not bad, f"warm-up requests failed: {bad[:3]}")

    steps = report.ladder(workload, seconds)
    jvm.send("begin")
    jvm.expect("begun", 30)
    # each step starts on an empty queue, so an overloaded rung's backlog
    # does not spill into the next, and every step is sent in full
    reqs, bounds = [], []
    for step in steps:
        rs, b = loadgen.schedule([step], pick, time.monotonic_ns() + 5_000_000)
        loadgen.run(rs, ports, payloads, workers, drain_s=10.0)
        reqs += rs
        bounds += b
    jvm.send("end")
    jvm.expect("checks_ready", 120)
    jvm.send("quit")
    return reqs, bounds, workers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    build.build(ROOT, os.path.join(OUT, "classes"))
    heap = heap_gb()
    inputs = inputs_for(a.workload, a.seed)
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = java_cmd(["run", a.workload, inputs, work, str(a.seconds), str(a.trace)], heap, work)
    jvm = Jvm(cmd, env, os.path.join(OUT, f"{a.workload}.log"))
    timer = threading.Timer(DEADLINE_S - (time.monotonic() - t_start), jvm.stop)
    timer.start()
    try:
        served = None
        if a.workload.startswith("serve_"):
            served = drive_serving(jvm, a.workload, inputs, a.seconds, a.seed, a.trace)
        result = jvm.expect("result", 150)
        result["window_seconds"] = a.seconds
        spans = []
        if a.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f]
        out = report.build(a.workload, inputs, result, served, spans, a.trace)
    except Exception:
        log(f"failed; JVM log: {os.path.join(OUT, a.workload + '.log')}")
        raise
    finally:
        timer.cancel()
        jvm.stop()
        shutil.rmtree(work, ignore_errors=True)

    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus(),
               "heap_gb": heap, "source": build.source_digest(ROOT)}
    out["context"].update(context)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{a.workload}-{a.seed}-t{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"report": out["report"], "context": out["context"]}))
    print(json.dumps(out["line"]))


if __name__ == "__main__":
    main()
