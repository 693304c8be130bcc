#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <batch_core|stream_stateful>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt and generates the fixtures; later runs reuse
both. Everything the benchmark writes stays under perfbench/.work/.

The JVM side (graftbench.Main) sets up, checks, measures and writes a result
file; this script then checks the batch results against the DuckDB oracle
(tools/check_oracle.py), prints every end-to-end metric by name, writes the
run's artifact and prints the contract line: one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1).
"""
import argparse
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

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
WORK = BENCH / ".work"
DEADLINE_S = 170.0

# Fixture scale per workload (TPC-H-style scale factor), and the small
# scale every set-up's warm-up pass runs on.
SCALES = {"batch_core": 0.01, "stream_stateful": 0.001}
WARM_SCALE = 0.001

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: sources and build definitions."""
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", BENCH / "src" / "main"]
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles the library and the benchmark once per source state and
    returns the runtime classpath."""
    out = WORK / "build"
    stamp = source_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    log("building library and benchmark with sbt (first run only)")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=max(60.0, deadline - time.time()),
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    (out / "build.log").write_text(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def fixtures(scale):
    """Generates the fixture tables for `scale` once; returns their dir."""
    d = WORK / "fixtures" / f"sf{scale}"
    done = d / ".done"
    if not done.exists():
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        subprocess.run([sys.executable, str(BENCH / "gen_fixtures.py"), str(d), str(scale)],
                       check=True, stdin=subprocess.DEVNULL)
        done.write_text(f"{time.time() - t0:.3f}\n")
        log(f"generated sf{scale} fixtures in {time.time() - t0:.1f} s")
    return d, float(done.read_text())


def run_jvm(cp, args, run_dir, deadline):
    cores = str(os.cpu_count() or 1)
    mem_gb = 4
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        mem_gb = max(2, min(6, total_kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        pass
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=str(tmp),
               SPARK_GRAFT_LOG_LEVEL="ERROR")
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{mem_gb}g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           f"-Dderby.system.home={tmp}",
           "-cp", cp, "graftbench.Main", *args]
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("benchmark JVM ran out of time")
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    return json.loads((run_dir / "result.json").read_text())


def oracle_check(fixture_dir, result, deadline):
    """DuckDB oracle over the batch results the JVM dumped; returns the
    queries compared and the ones that failed, with the reason."""
    names = result["detail"]["queries"]
    res_dir = result["detail"]["results_dir"]
    p = subprocess.run([sys.executable, str(REPO / "tools" / "check_oracle.py"),
                        str(fixture_dir), res_dir, *names],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1.0, deadline - time.time()), stdin=subprocess.DEVNULL)
    fails = {}
    passed = set()
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(1) == "FAIL":
            fails[m.group(2)] = line[5:]
        elif m:
            passed.add(m.group(2))
    for n in names:
        if n not in passed and n not in fails:
            fails[n] = "no oracle verdict"
    return names, fails


def human_lines(result):
    """The end-to-end metrics under the names the benchmark doc uses."""
    e, d = result["end_to_end"], result["detail"]
    lines = [("setup_s", e["setup_s"], "s"), ("heap_after_gc_peak_mb", e["heap_after_gc_peak_mb"], "MB"),
             ("failed_frac", result["failed_frac"], "fraction")]
    if "query_p50_s" in d:
        tail = d.get("query_tail") or {}
        lines += [("suite_s", e["suite_s"], "s"), ("query_p50_s", d["query_p50_s"], "s"),
                  ("query_p90_s", d["query_p90_s"], "s")]
        if tail:
            lines.append((f"query_p{tail['percentile']:g}_s", tail["value_s"],
                          f"s ({tail['beyond']} of {tail['samples']} samples beyond)"))
        lines.append(("samples", d["samples"], "queries run"))
    else:
        tail = d.get("batch_tail") or {}
        lines += [("suite_s", e["suite_s"], "s"), ("stream_rows_per_s", d["stream_rows_per_s"], "1/s"),
                  ("batch_p50_ms", d["batch_p50_ms"], "ms"), ("batch_p90_ms", d["batch_p90_ms"], "ms")]
        if tail:
            lines.append((f"batch_p{tail['percentile']:g}_ms", tail["value_ms"],
                          f"ms ({tail['beyond']} of {tail['samples']} samples beyond)"))
        lines.append(("samples", d["samples"], "micro-batches"))
    for name, value, unit in lines:
        print(f"{result['workload']} {name} = {value} {unit}")


def main():
    start = time.time()
    deadline = start + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = REPO / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    for need in (REPO / "build.sbt", REPO / "src" / "main" / "scala", REPO / "tools" / "check_oracle.py"):
        if not need.exists():
            fail(f"{need.relative_to(REPO)} is missing: run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build(start + 800.0)
    # the build may take long on the first run; the run itself gets its own budget
    deadline = max(deadline, time.time() + 150.0)
    fx, fx_gen_s = fixtures(SCALES[a.workload])
    warm, _ = fixtures(WARM_SCALE)

    run_dir = WORK / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--fixtures", str(fx), "--warm-fixtures", str(warm),
                          "--out", str(run_dir)], run_dir, deadline)

    attempted, failed = result["attempted"], result["failed"]
    failures = list(result["failures"])
    if a.workload == "batch_core":
        names, bad = oracle_check(fx, result, deadline)
        attempted += len(names)
        failed += len(bad)
        failures += [{"what": f"oracle:{n}", "error": e} for n, e in sorted(bad.items())]
        result["oracle"] = {"checked": len(names), "failed": sorted(bad)}
    result.update(attempted=attempted, failed=failed, failures=failures,
                  failed_frac=failed / attempted, fixture_scale=SCALES[a.workload],
                  fixture_generation_s=fx_gen_s, wall_s=time.time() - start)
    for f in failures:
        log(f"FAILED {f['what']}: {f['error']}")
    human_lines(result)

    section = "per_layer" if a.trace else "end_to_end"
    measured = result[section]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in measured:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
    (run_dir / "artifact.json").write_text(json.dumps(result, indent=1))
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    shutil.rmtree(run_dir / "checkpoints", ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
