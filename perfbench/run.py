#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. The first run builds the engine and this
harness from source with sbt (perfbench/build.sbt, which depends on the
engine's own build) and exports the classpath; every workload JVM is then
launched directly with `java`.

Workloads (see perfbench/README.md for what each one measures):
  live_psi          open loop: a generator process paces a seeded
                    multi-program mux over UDP into the streaming PSI
                    chain while a poller GETs the served document
  batch_sweep       closed loop, one client: each pass analyses a fresh
                    seeded capture through the TsPipeline functions, then
                    runs a fixed subset of the relational and data-prep
                    queries over seeded tables

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). The full run artifact, with every
pass, operation, bump, environment reading and input checksum, is
written under .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import tablegen  # noqa: E402

WORKLOADS = ["live_psi", "batch_sweep"]
CPUS = 4
HEAP = "3g"
# a fixed heap and young generation keep the resident set from following
# the collector's sizing decisions from one run to the next
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn768m"]
# relational tables at sf0.01 keep the many short queries short; the
# data-prep tables at sf0.1 give the t/e/m queries executor work of their
# own (the kernels inside them stay under 1% of a pass, see README.md)
TABLE_SF = 0.01
PREP_SF = 0.1
RUN_BUDGET_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles the engine and the harness with sbt when their sources
    changed; returns (runtime classpath, the engine's JVM options from
    its build.sbt, heap size left out)."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "java_options.json")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if all(map(os.path.exists, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g, open(opts_file) as h:
                    return g.read().strip(), json.load(h)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "print javaOptions", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    # `print` lists a sequence one "* <element>" line each
    opts = [ln[2:].strip() for ln in p.stdout.splitlines()
            if ln.startswith("* ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    if p.returncode != 0 or not lines or "--add-opens" not in opts:
        raise BenchError("sbt build failed; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(opts_file, "w") as f:
        json.dump(opts, f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip(), opts


def environment():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_jiffies": int(cpu[8]) if len(cpu) > 8 else 0,
            "loadavg": load}


def free_udp_port():
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


class Runner:
    def __init__(self, args, classpath, java_options):
        self.a = args
        self.cp = classpath
        self.java_options = java_options
        self.deadline = time.time() + RUN_BUDGET_S
        self.tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    def remaining(self):
        left = self.deadline - time.time()
        if left <= 5:
            raise BenchError("run budget exhausted")
        return left

    def java(self, work, **kv):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = (["java"] + self.java_options + JVM_FLAGS +
               [f"-Djava.io.tmpdir={work}/tmp", "-cp", self.cp,
                "graft.perfbench.Main"])
        kv.setdefault("work", work)
        kv["launch_ns"] = str(time.time_ns())
        cmd += [f"{k}={v}" for k, v in kv.items()]
        with open(os.path.join(work, "jvm.out"), "w") as out, \
                open(os.path.join(work, "jvm.err"), "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=err,
                                 stdin=subprocess.DEVNULL)
            try:
                code = p.wait(timeout=self.remaining())
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise BenchError(f"JVM ({kv.get('mode')}) ran out of time")
        if code != 0:
            raise BenchError(f"JVM ({kv.get('mode')}) exited with {code}; "
                             f"see {os.path.relpath(work, ROOT)}/jvm.err")

    def inputs(self):
        """Generates the seed's inputs once; returns (dir, manifest)."""
        w, seed = self.a.workload, self.a.seed
        base = os.path.join(BUILD, "inputs")
        d = os.path.join(base, f"{w}-s{self.a.seconds:g}-seed{seed}")
        man_path = os.path.join(d, "inputs.json")
        if not os.path.exists(man_path):
            prune(base)
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            self.java(tmp, mode="gen", dir=tmp, seed=seed, workload=w,
                      seconds=self.a.seconds)
            for sub in ("tmp", "jvm.out", "jvm.err"):
                p = os.path.join(tmp, sub)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            with open(man_path.replace(d, tmp)) as f:
                man = json.load(f)
            if w == "batch_sweep":
                man["tables"] = tablegen.write(os.path.join(tmp, "tables"),
                                               seed, TABLE_SF, PREP_SF)
                man["sf"] = TABLE_SF
                man["prep_sf"] = PREP_SF
            with open(man_path.replace(d, tmp), "w") as f:
                json.dump(man, f)
            os.replace(tmp, d)
        with open(man_path) as f:
            return d, json.load(f)

    def engine(self, inputs):
        work = os.path.join(BUILD, "work", self.tag)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        kv = dict(mode="run", workload=self.a.workload, seed=self.a.seed,
                  seconds=self.a.seconds, trace=self.a.trace, inputs=inputs,
                  out=out, cpus=CPUS)
        if self.a.workload == "live_psi":
            kv.update(port=free_udp_port(), python=sys.executable,
                      udpgen=os.path.join(HERE, "udpgen.py"))
        self.java(work, **kv)
        with open(out) as f:
            res = json.load(f)
        for sub in ("warehouse", "local", "index", "checkpoint", "register",
                    "tmp"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        return res

    def run(self):
        env0 = environment()
        inputs, manifest = self.inputs()
        run = self.engine(inputs)
        values = (metrics.per_layer(run) if self.a.trace
                  else metrics.end_to_end(run))
        env1 = environment()
        artifact = {
            "workload": self.a.workload, "seed": self.a.seed,
            "seconds": self.a.seconds, "trace": self.a.trace,
            "env": {"nproc": os.cpu_count(), "master": f"local[{CPUS}]",
                    "heap": HEAP, "loadavg_before": env0["loadavg"],
                    "loadavg_after": env1["loadavg"],
                    "steal_jiffies_delta": env1["steal_jiffies"] -
                    env0["steal_jiffies"]},
            "inputs": manifest, "run": run,
            "metrics": values}
        os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
        with open(os.path.join(BUILD, "runs", f"{self.tag}.json"), "w") as f:
            json.dump(artifact, f)
        return metrics.result(run, values)


def prune(base, keep=6):
    """Bounds the disk the seeded inputs take: keeps the newest few."""
    if not os.path.isdir(base):
        return
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                  key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    missing = [p for p in ("build.sbt", "src/main/scala/graft")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the engine: missing {', '.join(missing)}")
        return 2
    try:
        result = Runner(a, *build()).run()
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"run failed: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
