#!/usr/bin/env python3
"""Benchmark runner for mdwsspark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source on first use (sbt, into
.bench_build/), then runs one JVM for the workload and prints its record
line and, as the last line, the result JSON. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.

    python3 perfbench/run.py --make-golden

rebuilds perfbench/golden/query_mix.tsv and cross-checks it against the
DuckDB oracle (tools/check_oracle.py).

    python3 perfbench/run.py --profile-entries

times every entry the mix is chosen from into perfbench/golden/entry_times.tsv
and prints the mix that the selection rule picks from those times.
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
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("crawl_small_etl", "query_mix")
DATA = BENCH / "data" / "sf0.01"
WARM_DATA = BENCH / "data" / "sf0.001"
GOLDEN = BENCH / "golden" / "query_mix.tsv"
ENTRY_TIMES = BENCH / "golden" / "entry_times.tsv"
XMX = "3g"
# A small fixed young generation and concurrent marking that starts at 5 %
# occupancy: a collection samples the heap every 128 MB allocated, and
# old-generation garbage is reclaimed soon after it appears, so the heap left
# after a collection (heap_peak_mb) depends much less on when G1 collects.
# README, "heap_peak_mb", has the figures.
GC_FLAGS = ["-Xmn128m", "-XX:InitiatingHeapOccupancyPercent=5",
            "-XX:-G1UseAdaptiveIHOP"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [p for r in roots for p in sorted(r.rglob("*.scala"))]
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def tree_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        die("no SPARK_HOME and no spark-submit on PATH")
    return str(Path(os.path.realpath(submit)).parent.parent)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def build(stamp_hash):
    """Compile program + harness once per source tree; returns classpath."""
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == stamp_hash:
        return cp_file.read_text().strip()
    if not shutil.which("sbt"):
        die("sbt not found on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    env = dict(os.environ, SPARK_HOME=spark_home())
    with open(log, "wb") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = log.read_text(errors="replace").splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and "classes" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    cp_file.write_text(cps[-1])
    stamp.write_text(stamp_hash)
    return cps[-1]


def head(stamp_hash):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"tree-sha256:{stamp_hash[:16]}"


def java_cmd(cp, main_args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [str(java), f"-Xmx{XMX}", *GC_FLAGS, *opens, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *main_args]


def run_jvm(cmd, timeout, log):
    with open(log, "wb") as err, open(log.with_suffix(".out"), "wb") as out:
        rc = run_bounded(cmd, timeout, cwd=ROOT, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL)
    return rc, log.with_suffix(".out").read_text(errors="replace").splitlines()


def bench(args, t_start):
    h = tree_hash()
    cp = build(h)
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = BUILD / "work" / run_id
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    main_args = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--data", str(DATA),
        "--golden", str(GOLDEN), "--ref-cache", str(BUILD / "ref"),
        "--spans", str(results / f"{run_id}.spans.jsonl"), "--head", head(h),
    ]
    # the first run in a checkout also pays for the build
    budget = (900 if time.time() - t_start > 60 else RUN_TIMEOUT_S) \
        - (time.time() - t_start) - 5
    log = results / f"{run_id}.log"
    try:
        rc, out = run_jvm(java_cmd(cp, main_args), max(30, budget), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = next((l for l in out if l.startswith('{"record"')), None)
    result = out[-1] if out and out[-1].startswith('{"correct"') else None
    if rc != 0 or result is None:
        err = log.read_text(errors="replace").splitlines()
        sys.stderr.write("\n".join(err[-30:]) + "\n")
        die(f"run failed (exit {rc}); log in {log}")
    (results / f"{run_id}.json").write_text(record + "\n" + result + "\n")
    print(record)
    print(result)


def make_golden():
    """Golden row counts + checksums for query_mix, then the oracle check:
    every oracle-backed entry must pass tools/check_oracle.py, with the
    same row count as the golden file."""
    h = tree_hash()
    cp = build(h)
    work = BUILD / "work" / "golden"
    rc, _ = run_jvm(java_cmd(cp, ["--make-golden", str(GOLDEN),
                                  "--data", str(DATA.relative_to(ROOT)),
                                  "--work", str(work)]),
                    3000, BUILD / "golden.log")
    if rc != 0:
        die(f"golden run failed; log in {BUILD / 'golden.log'}")
    verify = BUILD / "verify"
    shutil.rmtree(verify, ignore_errors=True)
    cmd = java_cmd(cp, [])
    cmd[cmd.index("perfbench.Main")] = "graft.Verify"
    rc = run_bounded(cmd + [str(DATA), str(verify)], 3000, cwd=ROOT,
                     stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if rc != 0:
        die("graft.Verify failed")
    out = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                          str(DATA), str(verify)], capture_output=True, text=True)
    golden = {l.split("\t")[0]: int(l.split("\t")[1])
              for l in GOLDEN.read_text().splitlines() if not l.startswith("#")}
    passed, bad, oracle_rows = 0, [], {}
    for line in out.stdout.splitlines():
        if line.startswith("PASS "):
            name, rows = line.split()[1], int(line.split("(")[1].split()[0])
            passed += 1
            oracle_rows[name] = rows
            if name in golden and golden[name] != rows:
                bad.append(f"{name}: oracle {rows} rows, golden {golden.get(name)}")
        elif line.startswith(("FAIL", "APPROX")):
            bad.append(line)
    print(out.stdout.splitlines()[-1] if out.stdout else "no oracle output")
    for b in bad:
        print(b, file=sys.stderr)
    print(json.dumps({"oracle_pass": passed, "golden_entries": len(golden),
                      "golden_checked": sum(1 for n in golden if n in oracle_rows),
                      "disagreements": len(bad)}))
    sys.exit(1 if bad else 0)


def profile_entries():
    """Per-entry times of every mix candidate, two timed passes."""
    cp = build(tree_hash())
    log = BUILD / "profile.log"
    rc, _ = run_jvm(java_cmd(cp, ["--profile", str(ENTRY_TIMES),
                                  "--data", str(DATA.relative_to(ROOT)),
                                  "--warm-data", str(WARM_DATA.relative_to(ROOT)),
                                  "--work", str(BUILD / "work" / "profile")]),
                    3000, log)
    if rc != 0:
        die(f"profile run failed; log in {log}")
    select_mix()


MIX_SIZE = 20


def select_mix():
    """Stratified sample of the profiled entries: each suite gets a share of
    MIX_SIZE in proportion to its entry count (largest remainder), and its
    entries are taken at evenly spaced quantiles of its sorted times. Prints
    the sample and how its time shares compare with the full pass."""
    rows = [l.rstrip("\n").split("\t") for l in ENTRY_TIMES.read_text().splitlines()
            if not l.startswith("#")]
    secs = {n: (float(a) + float(b)) / 2 for n, _, a, b in rows}
    suite = {n: s for n, s, _, _ in rows}
    suites = list(dict.fromkeys(suite.values()))
    members = {s: sorted((n for n in secs if suite[n] == s), key=secs.get) for s in suites}
    quota = {s: len(members[s]) * MIX_SIZE / len(secs) for s in suites}
    k = {s: int(quota[s]) for s in suites}
    for s in sorted(suites, key=lambda s: quota[s] - k[s], reverse=True)[:MIX_SIZE - sum(k.values())]:
        k[s] += 1
    mix = [members[s][int((j + 0.5) * len(members[s]) / k[s])] for s in suites for j in range(k[s])]

    def describe(names):
        ts = [secs[n] for n in names]
        total = sum(ts)
        share = {s: sum(secs[n] for n in names if suite[n] == s) / total for s in suites}
        return {"entries": len(ts), "pass_s": round(total, 2),
                "p50_s": round(statistics.median(ts), 3),
                "p75_s": round(statistics.quantiles(ts, n=4)[2], 3),
                "share": {s: round(v, 3) for s, v in share.items()}}
    full, sample = describe(list(secs)), describe(mix)
    print(json.dumps({"mix": mix, "full": full, "sample": sample,
                      "share_distance": round(sum(abs(full["share"][s] - sample["share"][s])
                                                  for s in suites) / 2, 3)}, indent=1))


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-golden", action="store_true")
    ap.add_argument("--profile-entries", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("run from the root of a checkout: program sources not found")
    needs = [DATA] + ([GOLDEN] if args.workload == "query_mix" else []) \
        + ([WARM_DATA] if args.profile_entries else [])
    for need in needs:
        if not need.exists():
            die(f"missing benchmark input {need.relative_to(ROOT)}")
    if args.make_golden:
        make_golden()
    elif args.profile_entries:
        profile_entries()
    elif not args.workload:
        die("--workload is required")
    else:
        bench(args, t_start)


if __name__ == "__main__":
    main()
