#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, measured end to
end (untraced) or per layer (traced).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source into `.bench_build/` and generates the input tables
there; later runs reuse both while their sources are unchanged. The
harness JVM does the set-ups, the correctness passes and the timed
passes; this script checks the outputs with DuckDB, computes the metrics
and prints them, last of all as one JSON line. Exit status 1 means an
output check failed; 2 means the benchmark could not run at all.

    python3 perfbench/run.py --selftest          # unit tests of the helpers
    python3 perfbench/run.py --workload W --record-golden   # refresh golden.json
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
# The harness JVM may take this long for its set-up, plus three times
# --seconds for the timed passes, before the run is abandoned.
JVM_SETUP_ALLOWANCE_S = 120
# Input scale per workload (TPC-H-style scale factor of the generated
# tables); the warehouse build generates its own sources in-engine.
DATA_SF = 0.01
WORKLOADS = ("warehouse_build", "query_board")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Gated metrics (BENCHMARK.json), in the order they are printed.
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_gmean_s", "s"),
              ("peak_rss_mb", "MB"), ("stored_mb", "MB")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg):
    """The benchmark could not run: no result line, exit status 2."""
    log(f"benchmark: {msg}")
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the pyspark
    package ships."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        try:
            import pyspark
        except ImportError:
            die("Spark not found: set SPARK_HOME")
        jars = Path(pyspark.__file__).parent / "jars"
    if not jars.is_dir():
        die(f"no Spark jars under {jars}")
    return jars


def jvm(jar, tmp):
    """The harness command line up to its main class; every temporary file
    the JVM makes goes under `tmp`. The young generation is capped because
    the parallel collector's adaptive sizing otherwise grows the heap by
    different amounts on identical runs, which `peak_rss_mb` would show."""
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", *ADD_OPENS, "-Xmx3g", "-XX:MaxNewSize=512m", "-Xss8m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{spark_jars()}/*:{jar}", "perfbench.Harness"]


def build():
    """Compile src/main/scala plus the harness into one jar; skipped when
    already built from identical sources."""
    sources = sorted((ROOT / "src/main/scala").rglob("*.scala")) + \
        sorted((HERE / "scala").glob("*.scala")) + [HERE / "build.sh"]
    out = BUILD / "harness"
    stamp, jar = out / "stamp", out / "harness.jar"
    key = digest(sources)
    if stamp.exists() and stamp.read_text() == key:
        return jar
    log("benchmark: building program and harness")
    subprocess.run(["bash", str(HERE / "build.sh"), str(out)], cwd=ROOT, check=True,
                   stdout=sys.stderr, env={**os.environ, "SPARK_JARS": str(spark_jars())})
    stamp.write_text(key)
    return jar


def data_dir():
    """Generated input tables, regenerated only when the generator changes."""
    d = BUILD / f"data_sf{DATA_SF}"
    stamp = d / "stamp"
    key = digest([HERE / "gen_data.py"])
    if not (stamp.exists() and stamp.read_text() == key):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen_data.py"), str(d), str(DATA_SF)],
                       check=True)
        stamp.write_text(key)
    return d


def run_harness(jar, data, work, args):
    out = work / "result.json"
    cmd = jvm(jar, work / "tmp") + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data), "--work", str(work), "--out", str(out),
        "--inject-failure", "1" if args.inject_failure else "0"]
    timeout = JVM_SETUP_ALLOWANCE_S + 3 * args.seconds
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded {timeout:.0f} s")
    if code != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        die("harness failed (exit %d)\n%s" % (code, "\n".join(tail)))
    return json.loads(out.read_text())


def du_mb(roots):
    total = 0
    for r in roots:
        for dirpath, _, files in os.walk(r):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


def check_outputs(result, data, work, golden_all):
    import checks  # reuses tools/check_oracle.py, so only once the repository is known to be here
    con = checks.connect(data)
    golden = golden_all.get(result["workload"], {})
    check = checks.check_warehouse if result["workload"] == "warehouse_build" \
        else checks.check_queries
    return check(con, result["ops"], work / "check", golden)


def fmt(v):
    return f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an operation that always throws (tests failure accounting)")
    ap.add_argument("--record-golden", action="store_true",
                    help="record fingerprints of outputs without oracle SQL into golden.json")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(str(HERE), pattern="test_*.py")
        sys.exit(0 if unittest.TextTestRunner().run(suite).wasSuccessful() else 1)
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "all":
        rest = [a for a in sys.argv[1:] if a not in ("--workload", "all")]
        codes = [subprocess.run([sys.executable, __file__, "--workload", w, *rest]).returncode
                 for w in WORKLOADS]
        sys.exit(max(codes))

    if not (ROOT / "src/main/scala").is_dir():
        die("src/main/scala not found; run from the repository root")
    try:
        data = data_dir()
        jar = build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired, OSError) as e:
        die(f"set-up failed: {e}")
    work = BUILD / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = run_harness(jar, data, work, args)

    golden_path = HERE / "golden.json"
    golden_all = json.loads(golden_path.read_text()) if golden_path.exists() else {}
    bad, seen = check_outputs(result, data, work, golden_all)
    setup_errors = {o["name"]: o["error"] for o in result["setup"]["ops"] if not o["ok"]}
    bad.update({k: f"check pass threw: {v}" for k, v in setup_errors.items()})
    if args.record_golden:
        no_oracle = {o["name"] for o in result["ops"] if not o["oracle"]}
        golden_all[args.workload] = {k: v for k, v in sorted(seen.items()) if k in no_oracle}
        golden_path.write_text(json.dumps(golden_all, indent=1, sort_keys=True) + "\n")
        log(f"benchmark: recorded {len(golden_all[args.workload])} golden fingerprints")

    for name, why in sorted(bad.items()):
        log(f"CHECK FAILED {name}: {why}")
    attempted, failed, pass_ms, samples = metrics.timed_accounting(result["passes"], set(bad))
    pooled = [x / 1e3 for v in samples.values() for x in v]
    n_pass, n_ops = len(pass_ms), len(pooled)
    setup = result["setup"]
    tail_v, tail_pct, tail_n = metrics.tail(pooled)
    values = {
        "setup_s": ((setup["end"] - setup["start"]) / 1e3,
                    f"n=1; session {(setup['session_end'] - setup['start']) / 1e3:.3f} s, "
                    f"check pass {(setup['check_end'] - setup['session_end']) / 1e3:.3f} s, "
                    f"warm pass {(setup['end'] - setup['check_end']) / 1e3:.3f} s"),
        "pass_s": (metrics.median(pass_ms) / 1e3, f"median of n={n_pass} timed passes"),
        "op_gmean_s": (metrics.gmean_of_medians(samples) / 1e3,
                       f"geometric mean over n={len(samples)} operations of each one's "
                       f"median over the passes"),
        "op_p50_s": (metrics.median(pooled), f"median of n={n_ops} operations"),
        "op_tail_s": (tail_v, f"p{tail_pct:.1f} of n={tail_n} operations"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "VmHWM of the harness JVM, n=1"),
        "stored_mb": (du_mb(result["output_roots"]), "bytes under the output roots, n=1"),
    }
    failed_frac = failed / attempted if attempted else 1.0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"ops/pass {len(result['ops'])} data sf {DATA_SF}")
    for name, unit in END_TO_END + [("op_p50_s", "s"), ("op_tail_s", "s")]:
        v, note = values[name]
        print(f"  {name:<16} {fmt(v):>12} {unit:<6} ({note})")
    digest_of_outputs = hashlib.md5(json.dumps(sorted(seen.items())).encode()).hexdigest()
    print(f"  {'outputs':<16} {digest_of_outputs} (md5 of every output fingerprint; "
          f"the same for every seed)")
    print(f"  {'failed_frac':<16} {fmt(failed_frac):>12} {'1':<6} ({failed} of {attempted} operations)")
    if args.workload == "warehouse_build":
        rows = sum(v[1] for v in seen.values())
        print(f"  {'rows_per_s':<16} {fmt(rows / (values['pass_s'][0] or 1)):>12} {'1/s':<6} "
              f"({rows} rows written per pass / pass_s)")

    if args.trace:
        layers = metrics.layer_rollup(result)
        for name, vs in layers.items():
            print(f"  {name:<34} {fmt(metrics.median(vs)):>12}  (median of n={len(vs)} passes)")
        out_metrics = {k: {"value": metrics.median(v), "unit": unit_of(k)} for k, v in layers.items()}
    else:
        out_metrics = {name: {"value": values[name][0], "unit": unit} for name, unit in END_TO_END}
    # An operation that throws in a timed pass but not in the check pass is
    # as wrong as a wrong output: the run fails, not just the sample.
    correct = not bad and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


if __name__ == "__main__":
    main()
