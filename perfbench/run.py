#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload per run.

    python3 perfbench/run.py --workload cf_cowalk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine with the
repository's own sbt build and the benchmark package in this directory, and
records a stamp of the sources so later runs skip the build. Each run then
synthesizes its inputs from the seed (`gen.py`), launches one JVM on the
compiled classes (`perfbench.Main`), checks every output against
`expected.json`, and prints one JSON result line as the last line of stdout.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. Full per-step records and spans go to `perfbench/out/`.

`--record` is the maintenance mode that produced `expected.json`: it runs the
check pass only, compares every output with the DuckDB oracle SQL of
`graft.SparkEntry.oracleSql` (exact values, columns by name, rows in sorted
order), and prints the digests to record when all of them match.
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

START_MS = time.time() * 1000.0  # process start, for setup_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# A fixed heap keeps peak RSS from depending on how far G1 grew it. The
# lower compile thresholds shorten the JIT warm-up: without them pass times
# fell about 25 % over the first five passes, with them 10 to 15 %.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:CompileThresholdScaling=0.1"]
# table scale factor per workload (lineitem rows = 6M * sf)
SCALE = {"cf_cowalk": 0.005, "ops_mix": 0.002}
# train corpus: users, movies, draws per user; then ALS sweeps and DSGD
# epochs per fit and users sampled by the P@k eval
TRAIN = {"users": 4000, "items": 1000, "per_user": 40,
         "sweeps": 2, "epochs": 2, "eval_users": 500}
WORKLOADS = ("cf_cowalk", "ops_mix", "train")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUILD_DIR = os.path.join(HERE, ".build")
PROGRAM_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
BENCH_CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the two builds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Builds the engine and the benchmark unless the source stamp matches;
    returns whether it built."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {os.path.join(ROOT, need)} is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isdir(PROGRAM_CLASSES) and os.path.isdir(BENCH_CLASSES)):
        return False
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        for cwd in (ROOT, HERE):
            cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
            rc = subprocess.run(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
            if rc != 0:
                fail(f"build failed in {cwd} (exit {rc}), see {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def make_inputs(workload, seed, data_dir):
    if workload == "train":
        gen.ratings(data_dir, seed, TRAIN["users"], TRAIN["items"], TRAIN["per_user"])
    else:
        gen.tables(data_dir, SCALE[workload])


def run_jvm(args, work, data_dir, out_file, t0_ms, record_dir=None):
    classpath = os.pathsep.join([PROGRAM_CLASSES, BENCH_CLASSES,
                                 os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    train = ",".join(str(TRAIN[k]) for k in ("items", "sweeps", "epochs", "eval_users"))
    cmd = (["java"] + ADD_OPENS + JVM_FLAGS +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--work", work, "--out", out_file,
            "--t0-ms", repr(t0_ms), "--train", train])
    if record_dir:
        cmd += ["--record", record_dir]
    log_path = out_file[:-len(".json")] + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=170)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail = open(log_path).read()[-3000:]
        fail(f"JVM exited {proc.returncode}; log tail:\n{tail}")
    return json.loads(lines[-1])


def check(workload, raw, expected):
    """Failed outputs: digests that differ from the recorded ones, and train
    metrics that are not finite or leave their recorded tolerance."""
    bad = []
    exp = expected[workload]
    for name, want in exp.get("digests", {}).items():
        got = raw["digests"].get(name)
        if got != want:
            bad.append(f"{name}: digest {got} != expected {want}")
    for name, (lo, hi) in exp.get("checks", {}).items():
        v = raw["checks"].get(name)
        if v is None or not (lo <= v <= hi):
            bad.append(f"{name}: {v} outside [{lo}, {hi}]")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops and reaps its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(bench_json))
    # set-up time runs from process start, or from the end of a build
    t0_ms = time.time() * 1000.0 if build() else START_MS
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = os.path.join(work, "data")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_file = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    try:
        make_inputs(args.workload, args.seed, data_dir)
        if args.record:
            return record(args, work, data_dir, out_file, t0_ms)
        raw = run_jvm(args, work, data_dir, out_file, t0_ms)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = json.load(open(os.path.join(HERE, "expected.json")))
    bad = check(args.workload, raw, expected)
    for b in bad:
        print(f"perfbench: WRONG {b}", file=sys.stderr)
    failed = raw["errors"] + len(bad)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = raw["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    lat = "".join(f" {k}={raw['metrics'][k]:.4f}s" for k in ("op_p50_s", "op_p90_s")
                  if k in raw["metrics"])
    print(f"perfbench: {args.workload} seed={args.seed} passes={raw['passes']} "
          f"steps={raw['steps']} measured_s={raw['measured_s']:.2f}{lat} "
          f"attempted={raw['attempted']} failed={failed} "
          f"failed_frac={failed / max(1, raw['attempted']):.4f} detail={out_file}")
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}, separators=(",", ":")))


def record(args, work, data_dir, out_file, t0_ms):
    import duckdb
    rec_dir = os.path.join(work, "record")
    args.seconds = 0
    raw = run_jvm(args, work, data_dir, out_file, t0_ms, record_dir=rec_dir)
    if raw["errors"]:
        fail(f"{raw['errors']} steps failed")
    if args.workload == "train":
        print(json.dumps({"checks": raw["checks"]}, indent=1))
        return
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(rec_dir, "oracle_sql.json")))
    n_bad = 0
    for name in raw["digests"]:
        got = con.execute(f"SELECT * FROM '{rec_dir}/{name}/*.parquet'").fetchdf()
        if name not in oracles:
            print(f"no oracle {name}: {len(got)} rows", file=sys.stderr)
            continue
        exp = con.execute(oracles[name]).fetchdf()
        # the digest ignores row order (store probes return unordered
        # frames), so the comparison sorts both sides on every column
        cols = sorted(got.columns)
        if cols == sorted(exp.columns):
            got, exp = (f[cols].sort_values(cols, kind="stable", ignore_index=True)
                        for f in (got, exp))
        why = []
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            why.append(f"shape {list(got.columns)} x {len(got)} vs "
                       f"{list(exp.columns)} x {len(exp)}")
        else:
            for c in got.columns:
                a, b = got[c], exp[c]
                try:
                    eq = (a == b) | (a.isna() & b.isna())
                except Exception:
                    eq = a.astype(str) == b.astype(str)
                if not eq.all():
                    i = (~eq).idxmax()
                    why.append(f"{c}[row {i}]: {a[i]!r} vs {b[i]!r} ({int((~eq).sum())} diffs)")
        ok = not why
        print(f"{'pass' if ok else 'FAIL'} {name}: {len(got)} rows {'; '.join(why)}",
              file=sys.stderr)
        n_bad += not ok
    if n_bad:
        fail(f"{n_bad} outputs differ from the oracle")
    print(json.dumps({"sf": SCALE[args.workload], "digests": raw["digests"]}, indent=1))


if __name__ == "__main__":
    main()
