#!/usr/bin/env python3
"""Repository benchmark: one workload per call, one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload extract|curate \
        --seed N --seconds S --trace 0|1

It compiles the program and the benchmark code in perfbench/src with the Scala
compiler that ships in the Spark jar directory build.sbt names (no sbt),
into .bench_build/ of the checkout, and runs perfbench.Main in one JVM with
build.sbt's JVM flags and SPARK_GRAFT_CPUS = the number of usable cores.
Every other SPARK_GRAFT_* variable is removed from the environment.

For curate it then runs tools/oracle_check.py on the warm-up
pass that graft.Verify dumped. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full per-pass record
(nproc, load average, commit, heap, samples, checks) goes to
.bench_build/results/. DESIGN.md explains the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("extract", "curate")
# layers whose per-layer metrics a workload measures; the others report 0
EXERCISED = {
    "extract": ("core", "pipeline", "setup", "jvm", "trace"),
    "curate": ("core", "queries", "streaming", "setup", "jvm", "trace"),
}
# kernelMicros percentiles come from ExtractJob's output rows
EXTRACT_ONLY = ("core.doc_us_p50", "core.doc_us_p99")
JVM_TIMEOUT_S = 165


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read(path):
    return path.read_text(encoding="utf-8")


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(ROOT / "build.sbt"))
    cands = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in cands:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    die("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sbt_jvm_flags():
    """build.sbt's javaOptions: the add-opens list, -D and -XX flags."""
    sbt = read(ROOT / "build.sbt")
    opens = re.findall(r'"(java\.base/[^"]+)"', sbt)
    flags = re.findall(r'"(-D[^"]+|-XX:[^"]+)"', sbt)
    if not opens:
        die("build.sbt has no add-opens list")
    return [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + flags


def sf_dir():
    """The sf0.01 tables (the scale of the Verify/oracle gate), found
    beside the sf0.1 tables the frozen graft.Bench reads by default."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return Path(os.environ["PERFBENCH_SF_DIR"])
    src = read(ROOT / "src/main/scala/graft/Bench.scala")
    m = re.search(r'SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not m:
        die("cannot find the default sf directory in graft.Bench")
    return Path(m.group(1)).parent / "sf0.01"


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build(jars):
    """Compile src/main/scala + perfbench/src once per source state."""
    sources = sorted(ROOT.glob("src/main/scala/**/*.scala")) + sorted(HERE.glob("src/**/*.scala"))
    h = hashlib.sha256()
    for s in sources:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    digest = h.hexdigest()
    classes, stamp = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and read(stamp) == digest:
        return classes, digest, 0.0
    t0 = time.time()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources))
    compiler = [str(next(jars.glob(f"{n}-2.13*.jar"))) for n in ("scala-compiler", "scala-library", "scala-reflect")]
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes, digest, time.time() - t0


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return f"{min(8, max(2, int(gib / 2)))}g"


def run_jvm(cmd, env, log):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def oracle_check(sf, verify_dir, names):
    """tools/oracle_check.py over the Verify dump: name -> passed."""
    r = subprocess.run([sys.executable, str(ROOT / "tools/oracle_check.py"), str(sf), verify_dir, *names],
                       capture_output=True, text=True, timeout=120, cwd=ROOT)
    status = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(\S+): rows=(\w+)\(.*\) schema=(\w+) hash=(\w+)", line)
        if m:
            status[m.group(1)] = all(x == "True" for x in m.groups()[1:])
        else:
            m = re.match(r"(\S+): (NO SPARK OUTPUT|ORACLE SQL ERROR)", line)
            if m:
                status[m.group(1)] = False
    return {n: status.get(n, False) for n in names}, r.stdout[-4000:] + r.stderr[-2000:]


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=ROOT)
    return r.stdout.strip() or None


class Jvm:
    """Launches perfbench.Main with build.sbt's JVM flags."""

    def __init__(self, classes, jars, sf, nproc):
        self.classes, self.jars, self.sf, self.nproc = classes, jars, sf, nproc
        self.env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        self.env["SPARK_GRAFT_CPUS"] = str(nproc)
        self.heap = heap()
        self.flags = [f"-Xms{self.heap}", f"-Xmx{self.heap}", "-XX:-UsePerfData", *sbt_jvm_flags()]

    def run(self, work, workload, seed, seconds, trace, *extra):
        """Run one workload in `work`; return its record (dict)."""
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        record = work / "record.json"
        cmd = [java_bin(), *self.flags,
               f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
               "-cp", os.pathsep.join([str(self.classes), str(self.jars / "*")]),
               "perfbench.Main", workload, str(seed), str(seconds), str(trace),
               str(work), str(self.sf), str(record), *map(str, extra)]
        rc = run_jvm(cmd, self.env, work / "jvm.log")
        if rc != 0 or not record.is_file():
            sys.stderr.write(read(work / "jvm.log")[-6000:])
            shutil.rmtree(work, ignore_errors=True)
            die(f"the {workload} JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        return json.loads(read(record))


def verified_dump(jvm, digest):
    """Checksums of graft.Verify's dump of every curate query, each marked
    with whether tools/oracle_check.py matched it to its DuckDB oracle.
    Made once per source state and kept in .bench_build/."""
    path = BUILD / f"verified-{jvm.nproc}.tsv"
    header = f"# {digest} {jvm.sf}"
    if path.is_file() and read(path).split("\n", 1)[0] == header:
        return path, 0.0
    t0 = time.time()
    work = BUILD / "run" / f"verify-{os.getpid()}"
    rec = jvm.run(work, "verify", 0, 0, 0)
    oracle, out = oracle_check(jvm.sf, rec["verify_dir"], rec["verify_names"])
    lines = [header]
    for line in read(work / "dump_checksums.tsv").splitlines():
        name = line.split("\t")[0]
        lines.append(f"{line}\t{1 if oracle[name] else 0}")
    (BUILD / "oracle_check.log").write_text(out)
    shutil.rmtree(work, ignore_errors=True)
    path.write_text("\n".join(lines) + "\n")
    return path, time.time() - t0


def per_layer(spec, rec, workload):
    layer = dict(rec["per_layer"])
    layer["trace.wall_s"] = rec["end_to_end"]["wall_s"]
    layer["trace.cpu_s"] = rec["end_to_end"]["cpu_s"]
    metrics, missing = {}, []
    for m in spec["per_layer"]:
        measured = m["name"].split(".")[0] in EXERCISED[workload] and not (
            m["name"] in EXTRACT_ONLY and workload != "extract")
        if measured and m["name"] not in layer:
            missing.append(m["name"])
        # a layer the workload does not run reports 0; a void value
        # (the phase runner disagreed with extractRowMode) reports 0 too
        v = layer.get(m["name"])
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    if missing:
        die(f"per-layer metrics not measured: {', '.join(missing)}")
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    for need in ("build.sbt", "src/main/scala/graft/Bench.scala", "tools/oracle_check.py"):
        if not (ROOT / need).is_file():
            die(f"{need} is missing: run from a checkout of the repository")
    spec = json.loads(read(ROOT / "BENCHMARK.json"))
    jars = spark_jars()
    sf = sf_dir()
    has_sf = (sf / "documents.parquet").exists()
    if a.workload == "curate" and not has_sf:
        die(f"sf tables not found at {sf}")
    BUILD.mkdir(exist_ok=True)
    classes, digest, build_s = build(jars)
    nproc = len(os.sched_getaffinity(0))
    jvm = Jvm(classes, jars, sf, nproc)
    # the once-per-source verification belongs to the build: whichever
    # run builds also makes it, so that no later run pays for it
    verified, verify_s = verified_dump(jvm, digest) if has_sf else (None, 0.0)

    work = BUILD / "run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    load_before = os.getloadavg()
    t0 = time.time()
    rec = jvm.run(work, a.workload, a.seed, a.seconds, a.trace,
                  *([verified] if a.workload == "curate" else []))
    jvm_s = time.time() - t0
    load_after = os.getloadavg()
    metrics = per_layer(spec, rec, a.workload) if a.trace else {
        m["name"]: {"value": rec["end_to_end"][m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    attempted, failed, failures = rec["attempted"], rec["failed"], rec["failures"]

    rec.update({
        "failed_share": failed / max(1, attempted),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "git_commit": git_commit(), "source_sha256": digest, "build_s": build_s,
        "verify_s": verify_s, "heap": jvm.heap, "jvm_flags": jvm.flags, "nproc": nproc,
        "spark_graft_env": {"SPARK_GRAFT_CPUS": str(nproc), "other SPARK_GRAFT_* left unset":
                            sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))},
        "jvm_s": jvm_s, "wall_clock_s": time.time() - started,
    })
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{datetime.datetime.now():%Y%m%dT%H%M%S}-{os.getpid()}"
    if a.trace:
        prior = sorted(results.glob(f"{a.workload}-seed{a.seed}-trace0-*.json"))
        if prior:
            base = json.loads(read(prior[-1]))["end_to_end"]
            rec["tracing_overhead"] = {k: rec["end_to_end"][k] - base[k] for k in ("wall_s", "cpu_s")}
        if (work / "spans.jsonl").is_file():
            shutil.copy(work / "spans.jsonl", results / f"{stem}.spans.jsonl")
    (results / f"{stem}.json").write_text(json.dumps(rec, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0
    for k, v in rec["checks"].items():
        print(f"check {k}: {v}")
    for f in failures[:20]:
        print(f"FAILED {f}")
    print(f"failed_share {failed}/{attempted}")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    if "tracing_overhead" in rec:
        print("tracing_overhead " + json.dumps(rec["tracing_overhead"]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
