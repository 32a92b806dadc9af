#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one workload with one seed and prints
its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
harness from source with the Scala compiler that ships in Spark's jars
(`$SPARK_HOME/jars`, else build.sbt's `unmanagedBase`), trains a class-data sharing
archive for the JVM, and generates the table corpus. All of it goes under
`.bench_build/` (or `$CARGO_TARGET_DIR`) and is reused while the sources
are unchanged.

A run starts one JVM on `local[nproc]` with one client thread. It runs a
cold pass over the workload's operations, then `warmup_passes` untimed
warm-up passes, then a fixed number of measured warm passes sized to
`--seconds` (`warm_pass_s` in workloads.json). The seed
shuffles the operation order of every pass. Every operation's output is
checked: a fingerprint for each query or drain, and record counts,
read-back counts and health rows for each pipeline run.

With `--trace 0` the last stdout line holds the end-to-end metrics. With
`--trace 1` it holds the per-layer metrics of a traced run, and the spans
are written to `.bench_build/results/`. The line before it is a summary:
the environment stamp, `failed_ratio`, the tail percentile used, and the
first failures.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analyze  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
HEAP = "3g"
SETUP_SAMPLES = 3
RUN_LIMIT_S = 170.0
STEAL_CONTENDED = 5.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names as
    its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail("Spark jars not found (%r); set SPARK_HOME" % jars)
    return jars


def scala_files():
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_logged(cmd, log, what, timeout=840):
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, timeout=timeout)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail("%s failed (log: %s)" % (what, log), 3)


def build(bdir, jars):
    """Compile engine + harness into bdir/perfbench.jar and train a class-data
    sharing archive for it, unless both are current for these sources."""
    files = scala_files()
    want = digest(files)
    jar = os.path.join(bdir, "perfbench.jar")
    stamp = os.path.join(bdir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(jar):
        return jar, want
    if os.path.exists(stamp):
        os.remove(stamp)
    classes = os.path.join(bdir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(bdir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    log = os.path.join(bdir, "build.log")
    run_logged(["java", "-Xss8m", "-Xmx2g", "-cp", jars + "/*", "scala.tools.nsc.Main",
                "-nowarn", "-d", classes, "-classpath", jars + "/*", "@" + argfile], log, "scalac")
    # the JVM archives classes from jars only, so the build output is a jar
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    # AppCDS: one pipeline run at the default row counts records the classes
    # Spark and the engine load; every later JVM maps them instead of
    # loading and verifying them again, which halves set-up time
    work = os.path.join(bdir, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cds = os.path.join(bdir, "perfbench.jsa")
    if os.path.exists(cds):
        os.remove(cds)
    cmd = jvm(jar, jars, work, dict(
        kind="etl", ops=",".join(analyze.ETL_SOURCES), seed=0, warm=0, traced=0,
        cores=len(os.sched_getaffinity(0)), data="", work=work,
        out=os.path.join(work, "out.json"), etlScale=1))
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + cds)
    run_logged(cmd, os.path.join(bdir, "train.log"), "class-data sharing training run")
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(want)
    return jar, want


def jvm(jar, jars, work, args, main="perfbench.Harness"):
    """Java command line for `main` on the built jar; dict args are passed
    as key=value, list args as they are."""
    if isinstance(args, dict):
        args = ["%s=%s" % kv for kv in args.items()]
    cds = os.path.join(os.path.dirname(jar), "perfbench.jsa")
    share = ["-XX:SharedArchiveFile=" + cds] if os.path.exists(cds) else []
    return (["java"] + share
            # a fixed heap: G1 growing it from the default 1/64 of memory
            # kept warm passes slow and uneven for several passes
            + ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", "%s:%s/*" % (jar, jars), main] + list(args))


def corpus(bdir, jar, jars, cores):
    """Generate the table corpus into bdir/corpus unless already there."""
    src = os.path.join(HARNESS_SRC, "perfbench", "Corpus.scala")
    want = digest([src])
    out = os.path.join(bdir, "corpus")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out
    tmp = out + ".tmp"
    work = os.path.join(bdir, "work", "corpus")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    run_logged(jvm(jar, jars, work, dict(kind="corpus", cores=cores, work=work, out=tmp)),
               os.path.join(bdir, "corpus.log"), "corpus generation")
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


class Jvm:
    """One harness process: times process start -> PERFBENCH_READY and
    sends stderr to a log file."""

    def __init__(self, cmd, log, cwd):
        self.ready_s = None
        self.log = open(log, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, cwd=cwd)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.strip() == "PERFBENCH_READY" and self.ready_s is None:
                self.ready_s = time.perf_counter() - self.t0

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            code = self.proc.wait()
        self.reader.join(5)
        self.log.close()
        return code


def cpu_times():
    """Machine-wide (total, idle, steal) CPU jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_busy_cores(window=0.25):
    """Cores' worth of CPU time used by anything on the machine over a short
    window; sampled while no benchmark process runs, it is ambient load."""
    try:
        t0, i0, _ = cpu_times()
        time.sleep(window)
        t1, i1, _ = cpu_times()
    except OSError:
        return None
    return (os.cpu_count() or 1) * (1.0 - (i1 - i0) / max(1, t1 - t0))


def commit():
    """HEAD of the checkout's own git repository; None when it has none."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("engine sources not found under %s; run from the root of a checkout" % ENGINE_SRC)
    workloads = load_json("workloads.json")["workloads"]
    if args.workload not in workloads:
        fail("unknown workload %r (have: %s)" % (args.workload, ", ".join(workloads)))
    wl = workloads[args.workload]
    expected = load_json("expected.json")
    cores = len(os.sched_getaffinity(0))
    env = {"nproc": os.cpu_count(), "cores": cores, "heap": HEAP,
           "load1_start": os.getloadavg()[0], "ambient_busy_cores_start": cpu_busy_cores(),
           "commit": commit()}

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    jars = spark_jars()
    jar, src_hash = build(bdir, jars)
    env["source_sha256"] = src_hash
    data = corpus(bdir, jar, jars, cores) if wl["kind"] == "queries" else ""

    n_warm = max(2, round(args.seconds / wl["warm_pass_s"]))
    if args.trace:
        # measured passes alternate traced and untraced; the overhead needs
        # at least two of each
        n_warm = max(4, n_warm)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(bdir, "work", "%s-%d" % (tag, os.getpid()))
    logs = os.path.join(bdir, "logs")
    results = os.path.join(bdir, "results")
    for d in (os.path.join(work, "tmp"), logs, results):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(work, "result.json")
    t_start = time.perf_counter()
    cpu0 = cpu_times()
    try:
        main_jvm = Jvm(jvm(jar, jars, work, dict(
            kind=wl["kind"], ops=",".join(wl["ops"]), seed=args.seed,
            warmup=wl["warmup_passes"], warm=n_warm,
            traced=args.trace, cores=cores, data=data, work=work, out=out,
            etlScale=expected["etl"]["scale"])),
            os.path.join(logs, tag + ".log"), work)
        code = main_jvm.wait(RUN_LIMIT_S - (time.perf_counter() - t_start))
        if code != 0 or not os.path.exists(out):
            fail("harness exited with %d (log: %s)" % (code, main_jvm.log.name), 1)
        setups = [main_jvm.ready_s]
        if args.trace == 0:
            for i in range(SETUP_SAMPLES - 1):
                s = Jvm(jvm(jar, jars, work, dict(kind="setup", cores=cores, work=work)),
                        os.path.join(logs, tag + ".setup.log"), work)
                if s.wait(RUN_LIMIT_S - (time.perf_counter() - t_start)) != 0 or s.ready_s is None:
                    fail("setup sample failed (log: %s)" % s.log.name, 1)
                setups.append(s.ready_s)
        with open(out) as f:
            result = json.load(f)
        trace = None
        if args.trace:
            with open(out + ".trace") as f:
                trace = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while this run needed it
    env["steal_pct"] = 100.0 * (cpu1[2] - cpu0[2]) / max(1, cpu1[0] - cpu0[0])
    env["load1_end"] = os.getloadavg()[0]
    env["ambient_busy_cores_end"] = cpu_busy_cores()
    busy = env["ambient_busy_cores_start"]
    env["contended"] = (busy is not None and busy >= 1.0) or env["steal_pct"] >= STEAL_CONTENDED
    if env["contended"]:
        print("perfbench: WARNING: ambient load (%.2f cores busy at start, %.1f%% CPU stolen "
              "by the hypervisor); timings marked contended" % (busy or 0, env["steal_pct"]),
              file=sys.stderr)

    want = expected["etl"]["sources"] if wl["kind"] == "etl" else expected["fingerprints"]
    attempted, failures = analyze.check_run(result, wl, want)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env,
               "failed_ratio": len(failures) / attempted if attempted else 1.0,
               "failures": [list(f) for f in failures[:5]]}
    if args.trace == 0:
        metrics, info = analyze.end_to_end(result, wl, setups)
        summary.update(info)
        summary["setup_samples_s"] = setups
    else:
        layer, spans = analyze.per_layer(result, trace, wl, cores)
        metrics = {k: (v, analyze.unit_of(k)) for k, v in layer.items()}
        spans_file = os.path.join(results, tag + ".spans.json")
        with open(spans_file, "w") as f:
            json.dump(spans, f)
        summary["spans"] = os.path.relpath(spans_file, ROOT)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"summary": summary, "metrics": metrics, "result": result}, f)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
