#!/usr/bin/env python3
"""graft benchmark: the `Cc2Dataset.run` product path and the battery's
fixed-floor query families, end to end and layer by layer.

    python3 perfbench/run.py --workload fleet --seed 1000 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into `perfbench/target`; fixtures,
outputs and traces go under `.perfbench/`. Prints a table of every metric
and, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). See perfbench/README.md for the workloads and
what each metric is expected to move.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import floors

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("fleet", "floors")
HEAP = "3g"
RUN_LIMIT_S = 170  # the whole run, build excluded
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def call(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (exit code, stdout if captured)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"perfbench: {cmd[0]} exceeded {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def sources_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.md5()
    pats = ["src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found "
                         "next to perfbench/; run from a full checkout")
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    rc, out = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                   stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java(cp, main, args, timeout, heap=HEAP):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.repo.root={ROOT}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(WORK, 'hadoop')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, main] + args
    t0 = time.time()
    rc, _ = call(cmd, timeout, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr)
    log(f"{main} took {time.time() - t0:.1f} s")
    if rc != 0:
        raise SystemExit(f"perfbench: {main} exited {rc}")


# The fleet's archive pool (generated once per checkout, see perfbench.Gen)
# holds the 64 bench-fleet archives the repo's golden hash pins. Each seed
# selects 16 of them, lists 4 of those twice and adds 2 truncated ones.
POOL_ARCHIVES = 64
FLEET_SELECT, FLEET_REPEATS, FLEET_TRUNCATED = 16, 4, 2


def read_ref(path):
    with open(path) as f:
        lines = f.read().split()
    return int(lines[0]), lines[1:]


def fleet_fixture(cp, seed, run_dir, deadline):
    """Select the seed's inputs from the pool and derive the expected output
    from the pool's per-archive ProcessWat references."""
    pool = os.path.join(WORK, "pools", "fleet")
    # the references come from the engine's ProcessWat: remake them per
    # build; the stamp is written only once the pool is complete
    tag = open(os.path.join(WORK, "build", "stamp")).read()
    stamp = os.path.join(pool, "_BUILD")
    if not (os.path.isfile(stamp) and open(stamp).read() == tag):
        java(cp, "perfbench.Gen", ["--out", pool], deadline - time.time(), heap="2g")
        with open(stamp, "w") as f:
            f.write(tag)
    rnd = random.Random(seed)
    picks = rnd.sample(range(POOL_ARCHIVES), FLEET_SELECT)
    chosen = [("pool", i) for i in picks + rnd.sample(picks, FLEET_REPEATS)]
    chosen += [("trunc", i) for i in rnd.sample(range(POOL_ARCHIVES), FLEET_TRUNCATED)]
    rnd.shuffle(chosen)
    records, uids, inputs = 0, set(), []
    for kind, i in chosen:
        inputs.append(os.path.join(pool, f"{kind}-{i:03d}.warc.wat.gz"))
        ref = f"ref-{i:03d}.txt" if kind == "pool" else f"ref-trunc-{i:03d}.txt"
        n, u = read_ref(os.path.join(pool, ref))
        records += n
        uids.update(u)
    exp = dict(seed=seed, inputs=inputs, records=records,
               rows=len(uids), uid_md5=hashlib.md5("\n".join(sorted(uids)).encode()).hexdigest(),
               golden=open(os.path.join(pool, "golden.txt")).read().strip())
    with open(os.path.join(run_dir, "expected.json"), "w") as f:
        json.dump(exp, f)
    return run_dir


# The floors tables do not vary with the workload seed: the queries' work
# depends on the data's structure (the connected-components loop runs as
# many jobs as the near-duplicate graph needs), and with per-seed tables
# the same seeds were 25-50 % slower than others in repeated sets.
FLOORS_SEED = 42


def floors_fixture():
    """The floors tables (cached by shape)."""
    d = os.path.join(WORK, "floors", f"seed{FLOORS_SEED}")
    tag = json.dumps(floors.SHAPE, sort_keys=True)
    ok = os.path.join(d, "_OK")
    if not (os.path.isfile(ok) and open(ok).read() == tag):
        shutil.rmtree(d, ignore_errors=True)
        rows = floors.write_tables(d, FLOORS_SEED)
        with open(os.path.join(d, "tables.json"), "w") as f:
            json.dump(rows, f)
        with open(ok, "w") as f:
            f.write(tag)
    return d


def floors_check(data, run_dir, res, expect_wrong):
    """(attempted, [failures]) from comparing the harness' row counts and
    result dumps with DuckDB over the same tables (cached per oracle SQL)."""
    oracle_json = open(os.path.join(run_dir, "oracle_sql.json")).read()
    cache = os.path.join(data, f"expected-{hashlib.md5(oracle_json.encode()).hexdigest()}.json")
    if os.path.isfile(cache):
        want = json.load(open(cache))
    else:
        oracle = json.loads(oracle_json)
        missing = sorted(q for q, sql in oracle.items() if sql is None)
        want = floors.expected(data, {q: sql for q, sql in oracle.items() if sql})
        for q in missing:
            want[q] = None
        with open(cache, "w") as f:
            json.dump(want, f)
    attempted, failures = 0, []
    for q, w in sorted(want.items()):
        if w is None:
            attempted += 1
            failures.append(f"{q}: no oracle SQL")
            continue
        for k, n in enumerate(res["rows"].get(q, [])):
            if n != w["rows"]:
                failures.append(f"{q} pass {k}: {n} rows, expected {w['rows']}")
        if expect_wrong:
            w = dict(w, hash="0" * 32)
        attempted += 1
        why = floors.check_dumps(res["verify_dir"], {q: w})[q]
        if why:
            failures.append(f"{q} result: {why}")
    return attempted, failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1000)
    # a run makes a fixed number of timed jobs per workload, about 15-20 s
    # of measurement on a 4-core host; --seconds is accepted for the
    # benchmark interface and does not change that count
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect-wrong", action="store_true",
                    help="self-test: check outputs against a deliberately wrong "
                         "expected hash (every check must then fail)")
    a = ap.parse_args(argv)
    # a terminated run still stops (and waits for) the JVMs it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "floors":
        fx = floors_fixture()
    else:
        fx = fleet_fixture(cp, a.seed, run_dir, deadline)

    result = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(WORK, "traces", f"{a.workload}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    args = ["--workload", a.workload, "--fixtures", fx, "--work", run_dir,
            "--trace", str(a.trace),
            "--out", result, "--trace-out", trace_out]
    if a.expect_wrong:
        args += ["--expect-wrong", "1"]
    java(cp, "perfbench.Harness", args, deadline - time.time())
    res = json.load(open(result))
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if a.workload == "floors":
        n, extra = floors_check(fx, run_dir, res, a.expect_wrong)
        attempted += n
        failed += len(extra)
        failures += extra

    metrics = res["metrics"]
    unmeasured = sorted(k for k, m in metrics.items() if m["value"] is None)
    if unmeasured:  # every timed job failed: there is no measurement to report
        sys.stderr.write("".join(f"  FAILED {f}\n" for f in failures[:20]))
        raise SystemExit(f"perfbench: nothing measured for {', '.join(unmeasured)}")
    width = max(len(k) for k in metrics)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"cores {os.cpu_count()}")
    for k, m in metrics.items():
        print(f"  {k:<{width}}  {m['value']!s:>22}  {m['unit']}")
    print(f"  {'failed_share':<{width}}  {failed / max(1, attempted):>22}  "
          f"({failed} of {attempted} operations)")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    if a.trace:
        print(f"  trace file: {os.path.relpath(trace_out, ROOT)}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                       for k, m in metrics.items()}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
