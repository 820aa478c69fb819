#!/usr/bin/env python3
"""Lakehouse benchmark runner: builds the program and the harness from
source, runs one workload in one JVM, checks the result line.

    python3 perfbench/run.py --workload elt_cycle --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("elt_cycle", "sql_interactive", "llm_curation")
# Session start, setup and the check passes take up to about 30 s
# beyond --seconds on a 4-core host; the margin leaves room for a slow one.
JVM_MARGIN_S = 150
# A fixed heap (minimum = maximum), touched in full at start, keeps peak
# RSS repeatable: otherwise it depends on how much of the heap the
# collector happened to touch, which varies by up to 10 % from run to run.
HEAP = "1g"
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        fail(f"program sources not found under {prog.relative_to(ROOT)}")
    files = sorted(prog.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build(jars):
    """Compile the program and the harness with the Scala compiler that
    ships in the Spark jars. Output is keyed by a hash of every source,
    so an unchanged tree is built once per checkout."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = BUILD / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
         "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    (tmp / ".complete").write_text("ok\n")
    if (out / ".complete").exists():  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD.glob("classes-*"):  # builds of earlier trees
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    print(f"[perfbench] built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rows = spec["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in rows}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").exists():
        fail("BENCHMARK.json not found at the checkout root")
    want = expected_metrics(a.trace)
    jars = spark_jars()
    classes = build(jars)
    cores = min(4, len(os.sched_getaffinity(0)))

    work = BUILD / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = BUILD / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
    # -XX:-UsePerfData: the JVM writes nothing outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--spans", str(spans), "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=a.seconds + JVM_MARGIN_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {a.seconds + JVM_MARGIN_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail("last line is not a JSON result")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {[k for k in got if want.get(k) != got[k]]}")
    if res["attempted"] < 1:
        fail("no op was attempted")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
