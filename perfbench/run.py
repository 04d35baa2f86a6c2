#!/usr/bin/env python3
"""graft benchmark: ingest, query and pipeline workloads on local[nproc].

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the benchmark from source with sbt (into the checkout's target/
directories; the classpath is cached in .bench_build/). Each run then
starts one JVM, measures one workload for --seconds, checks every
result, and prints one line per metric followed by a JSON summary as
the last line of stdout. --trace 1 prints the per-layer metrics of a
traced run instead of the end-to-end ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MIN_FREE_BYTES = 2 << 30
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def meminfo_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def heap_mb():
    """A quarter of the host's memory, between 1 and 4 GiB."""
    return max(1024, min(4096, meminfo_mb() // 4))


def sources_digest():
    """Digest of the sources and build definitions, to reuse a build."""
    h = hashlib.sha1()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(top):
            files += [os.path.join(d, f) for f in names]
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt"),
                  os.path.join(base, "project", "build.properties")]
        pdir = os.path.join(base, "project")
        files += [os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".sbt")]
    for p in sorted(set(files)):
        if os.path.isfile(p):
            h.update(p.encode() + b"\0" + open(p, "rb").read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft + the benchmark; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        cached = json.load(open(stamp))
        if cached["digest"] == digest:
            return cached["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(r.stdout[-4000:])
        die(f"build failed (see {log})", 3)
    classpath = lines[-1].strip()
    json.dump({"digest": digest, "classpath": classpath}, open(stamp, "w"))
    return classpath


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work, corpus, deadline):
    report = os.path.join(work, "report.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", report, "--cpus", str(os.cpu_count() or 1)]
    if corpus:
        cmd += ["--corpus", corpus]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("benchmark JVM timed out", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(report):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        die(f"benchmark JVM failed with code {proc.returncode}", 4)
    return json.load(open(report))


def fmt(v):
    return repr(float(v))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "query", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout: no graft sources next to perfbench/")
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        die(f"only {free >> 20} MB free under {ROOT}; need {MIN_FREE_BYTES >> 20} MB")

    import metrics
    import oracle
    import summarise

    classpath = build()
    start = time.time()  # set-up is counted from here, after the build
    deadline = start + RUN_LIMIT_S
    work = os.path.join(BUILD, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus, corpus_rows, gen_s = None, None, []
        if args.workload == "pipeline":
            import corpus as gen
            for i in range(3):
                t = time.time()
                sizes = gen.generate(args.seed, os.path.join(work, f"corpus-{i}"))
                gen_s.append(time.time() - t)
            corpus = os.path.join(work, "corpus-2")
            corpus_rows = sizes["documents"] + sizes["events"]
        pre_jvm = (time.time() - start) - sum(gen_s) + (metrics.median(gen_s) if gen_s else 0)
        t_jvm = time.time()
        report = run_jvm(classpath, args, work, corpus, deadline)
        t_jvm = time.time() - t_jvm
        report["setup"]["setup_s"] += pre_jvm
        checks = list(report["checks"])
        if args.workload == "pipeline":
            oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
            errs = oracle.check(oracle.expected(corpus, oracles),
                                oracle.got(os.path.join(work, "results"), oracles))
            checks += [{"name": f"duckdb:{q}", "error": e} for q, e in sorted(errs.items())]
        ops = report["ops"] + report.get("traced_ops", [])
        attempted, failed = metrics.error_rate(ops, checks)
        for c in checks:
            if c["error"]:
                print(f"perfbench: check {c['name']} failed: {c['error']}", file=sys.stderr)
        for o in ops:
            if not o["ok"]:
                print(f"perfbench: op {o['cls']} failed: {o['err']}", file=sys.stderr)
        env = dict(report["info"], heap_mb=heap_mb(), nproc=os.cpu_count(),
                   free_mb=free >> 20, setup=report["setup"], jvm_s=round(t_jvm, 1),
                   run_s=round(time.time() - start, 1))
        print("perfbench env: " + json.dumps(env), file=sys.stderr)
        by_cls = {}
        for o in report["ops"]:
            by_cls.setdefault(o["cls"], []).append(o["s"])
        print("perfbench ops: " + ", ".join(
            f"{c} {len(v)}x{metrics.median(v):.3f}s" for c, v in sorted(by_cls.items())),
            file=sys.stderr)

        if args.trace:
            layer = summarise.per_layer(report)
            out = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            gate, named = metrics.gated(args.workload, report, corpus_rows)
            for k, (v, u, note) in named.items():
                print(f"{args.workload} {k} {fmt(v)} {u}" + (f"  # {note}" if note else ""))
            out = {k: {"value": v, "unit": u} for k, (v, u) in gate.items()}
        for k, m in out.items():
            print(f"{k} {fmt(m['value'])} {m['unit']}")
        print(f"error_rate {failed / attempted!r} fraction")
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
