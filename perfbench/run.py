#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client against local[nproc].

    python3 perfbench/run.py --workload <flwor|curation> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run then

  1. times cold JVM set-ups (session, extensions, registry), the
     workload's number of bare ones and the main run's own, and reports
     their median,
  2. runs the workload's ops on the tables under perfbench/data, byte
     copies of the repo's test data: one timed cold pass, one untimed
     pass that writes each op's output, untimed warm-up passes, then
     measured passes until --seconds have elapsed and a workload's
     minimum count has run, each pass in an order drawn from --seed,
  3. checks each op's written output against its DuckDB oracle with
     `gate` from tools/check.py,

and prints the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Everything the run writes lives under .perfbench_work/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")     # emptied at the start of each run
sys.dont_write_bytecode = True          # leave no .pyc in the checkout
sys.path.insert(0, HERE)
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_DEADLINE_S = 170      # a run must end within 180 s
PER_OP_UNITS = {
    "fs.bytes_read": "B",
    "construct.ms": "ms", "construct.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_busy_ms": "ms", "sched.driver_gap_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B", "shuffle.fetch_wait_ms": "ms",
    "artifact.builds": "count", "artifact.bytes_written": "B",
    "aqe.skew_splits": "count",
}
EXC_LINE = re.compile(r"^\S.*\b[\w$.]*(Exception|Error)\b(:|\s|$)")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath and
    the root build's JVM flags."""
    for f in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no {f} at {ROOT}: run from the root of a repo checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath")
    opts_file = os.path.join(HERE, "target", "jvm-options.txt")
    stamp = source_stamp()
    if all(map(os.path.exists, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_build(cp_file, opts_file)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        # own process group: the sbt script runs its JVM as a child, and a
        # timeout must stop both
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "jvmOptionsFile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=800)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and "classes" in l]
    if rc != 0 or not lines or not os.path.exists(opts_file):
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_build(cp_file, opts_file)


def read_build(cp_file, opts_file):
    with open(cp_file) as f, open(opts_file) as g:
        return f.read(), [l.strip() for l in g if l.strip()]


def java_cmd(cp, jvm_opts, nproc):
    """The harness JVM, with the root build's javaOptions and its scratch
    directories inside the run's own directory."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *jvm_opts, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(RUN_DIR, 'spark-local')}",
            "-cp", cp, "perfbench.Harness", "--cpus", str(nproc)]


def jvm_env():
    env = dict(os.environ)
    env["GRAFT_ARTIFACT_ROOT"] = os.path.join(RUN_DIR, "artifacts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    return env


def run_jvm(cmd, stderr, deadline):
    """Run one harness JVM to its end, killing it at the run deadline."""
    p = subprocess.Popen(cmd, env=jvm_env(), stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=stderr)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("harness JVM exceeded the run deadline")
    finally:
        # also on a timeout or a signal: leave no JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        fail(f"harness JVM exited {p.returncode}; see {stderr.name}")
    return out.decode()


def check_outputs(run_dir, sf, names):
    """Gate every distinct op's dumped output against its oracle; an op
    whose dump is missing (it threw) fails the gate's read."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import gate
    out = os.path.join(run_dir, "check")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out, "data_dir")) as f:
        data_dir = f.read()
    # check.py's connect() wants all ten tables; curation ships only the
    # two its ops read, so make a view for each table that is there
    con = duckdb.connect()
    for t in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    return {n: gate(con, out, oracle, n, sf >= 0.1)[0] for n in names}


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat; (0, 0) where
    there is none."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (xs[7] if len(xs) > 7 else 0), sum(xs)


def logged_exceptions(stderr_path):
    """Exception headlines the main JVM logged on stderr."""
    with open(stderr_path, errors="replace") as f:
        return [l.strip() for l in f if EXC_LINE.match(l)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so that the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    wl = WORKLOADS[a.workload]

    data = os.path.join(HERE, "data", wl["data"])
    if not glob.glob(os.path.join(data, "*.parquet")):
        fail(f"no input tables under {data}")
    cp, jvm_opts = build()
    deadline = time.time() + RUN_DEADLINE_S
    nproc = len(os.sched_getaffinity(0))
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)

    cmd = java_cmd(cp, jvm_opts, nproc)
    stderr_path = os.path.join(RUN_DIR, "jvm_stderr.log")
    out_path = os.path.join(RUN_DIR, "raw.json")
    main_cmd = cmd + [
        "--mode", "run", "--ops", ",".join(wl["ops"]),
        "--build-ops", ",".join(wl["build_ops"]), "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--warmup-passes", str(wl["warmup_passes"]),
        "--min-passes", str(max(wl["min_passes"], 2 if a.trace else 1)),
        "--trace", str(a.trace), "--data", data,
        "--work", RUN_DIR, "--out", out_path]
    # bare set-up JVMs, then the main one, one after the other so that
    # none slows another
    cpu0 = cpu_times()
    with open(stderr_path, "wb") as err, \
            open(os.path.join(RUN_DIR, "setup_stderr.log"), "wb") as serr:
        # a traced run reports no set-up time
        setups = [json.loads(run_jvm(cmd + ["--mode", "setup"], serr,
                                     deadline).splitlines()[-1])
                  for _ in range(0 if a.trace else wl["setup_probes"])]
        run_jvm(main_cmd, err, deadline)
    cpu1 = cpu_times()
    # the share of CPU time the hypervisor gave to other guests while the
    # JVMs ran: a busy host, not a code change
    raw_steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    with open(out_path) as f:
        raw = json.load(f)
    checks = check_outputs(RUN_DIR, sf_of(wl), all_ops(wl))
    logged = logged_exceptions(stderr_path)

    raw["env"]["steal_pct"] = 100.0 * raw_steal
    report = summarize(a, wl, raw, setups, checks, logged)
    if a.trace:
        spans_path = write_spans(a, raw)
        print(f"spans: {os.path.relpath(spans_path, ROOT)}")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(f"run wall {time.time() - t_start:.1f} s")
    print(json.dumps(report))


def all_ops(wl):
    return sorted(set(wl["ops"]) | set(wl["build_ops"]))


def sf_of(wl):
    return float(wl["data"][len("sf"):])


def summarize(a, wl, raw, setups, checks, logged):
    ops = raw["ops"]
    bad_check = {n for n, s in checks.items() if s != "OK"}
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad_check]
    attempted = len(ops)
    fail_ratio = stats.fail_ratio(attempted, len(failed_ops))
    warm = [o for o in ops if o["measured"]]
    untraced = [o for o in warm if not o["traced"]]
    lat = [o["end"] - o["start"] for o in untraced if o["ok"]]
    per_op = {}
    for o in untraced:
        if o["ok"]:
            per_op.setdefault(o["name"], []).append(o["end"] - o["start"])
    warm_wall_s = sum(o["end"] - o["start"] for o in untraced) / 1000.0
    p, tail, n = stats.tail_percentile(lat)
    setup_all = [s["setup_s"] for s in setups] + [raw["setup_s"]]
    env = raw["env"]

    print(f"workload {a.workload}: {wl['data']}, {len(all_ops(wl))} ops/pass"
          f" ({len(wl['build_ops'])} on a fresh snapshot), 1 cold + 1 check"
          f" + {raw['warmup_passes']} warm-up + {raw['passes']} measured"
          " passes, one closed-loop client, "
          f"local[{env['nproc']}], seed {a.seed}")
    print(f"env: nproc={env['nproc']} load_avg={env['load_avg']} "
          f"spin_sec={[round(x, 4) for x in env['spin_sec']]} "
          f"cpu_steal={env['steal_pct']:.1f}% "
          f"jvm={env['jvm']} spark={env['spark']}")
    ok = sum(1 for s in checks.values() if s == "OK")
    print(f"oracle check: {ok}/{len(checks)} OK"
          + (f"; failing: {sorted(bad_check)}" if bad_check else ""))
    passes = {}
    for o in warm:
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["end"] - o["start"]
    print("measured pass totals s: " + " ".join(
        f"{v / 1000:.2f}{'*' if any(o['traced'] for o in warm if o['pass'] == k) else ''}"
        for k, v in sorted(passes.items()))
        + ("  (* traced)" if a.trace else ""))
    print("per op: cold ms | measured median ms | artifact builds (cold, measured)")
    for name in all_ops(wl):
        mine = [o for o in ops if o["name"] == name]
        cold = [o["end"] - o["start"] for o in mine if o["pass"] == 0]
        hot = [o["end"] - o["start"] for o in mine if o["measured"]]
        print(f"  {name:32s} {stats.median(cold):9.1f} {stats.median(hot):9.1f}"
              f"  ({sum(o['builds'] for o in mine if o['pass'] == 0)},"
              f" {sum(o['builds'] for o in mine if o['measured'])})")
    for o in ops:
        if not o["ok"]:
            print(f"op threw: {o['name']} (pass {o['pass']}): {o['error']}")
    print(f"op_fail_ratio {fail_ratio:.6f} ratio "
          f"({len(failed_ops)}/{attempted} ops)")
    print(f"driver.logged_exceptions {len(logged)} count")
    for line in sorted(set(logged))[:5]:
        print(f"  logged: {line[:200]}")
    # contamination guards, over every pass after the cold one: builds
    # where probes are expected, and for build ops, which run on a fresh
    # snapshot, the reverse
    for o in ops:
        if o["pass"] == 0:
            continue
        if o["build"] and o["builds"] == 0:
            print(f"guard: {o['name']} (pass {o['pass']}) built no artifact;"
                  " it timed a probe, not a build")
        if not o["build"] and o["builds"] > 0:
            print(f"guard: artifact_builds_in_timed {o['name']} "
                  f"(pass {o['pass']}): {o['builds']}")

    e2e = {
        "setup_s": (statistics.median(setup_all), "s"),
        "first_pass_s": (raw["first_pass_s"], "s"),
        "latency_p50_ms": (stats.median(lat), "ms"),
        "latency_tail_ms": (tail if tail is not None else max(lat), "ms"),
        "ops_per_s": (len(lat) / warm_wall_s, "1/s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }
    for k, (v, u) in e2e.items():
        extra = {"latency_tail_ms": f"  (p{p}, n={n})" if p else
                 f"  (max: only n={n}, 10 or fewer samples)",
                 "latency_p50_ms": f"  (n={n})"}.get(k, "")
        extra = f"  (median of {len(setup_all)})" if k == "setup_s" else extra
        print(f"{k} {v:.4f} {u}{extra}")
    metrics = e2e
    if a.trace:
        metrics = per_layer(raw, logged, per_op)
        print("per-layer (per traced op unless noted):")
        for k, (v, u) in metrics.items():
            print(f"  {k:28s} {v:14.4f} {u}")
    return {"correct": not failed_ops, "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def op_spans(raw):
    """Attribute jobs and Catalyst phases to the traced op whose time
    window holds their start (ops run one at a time), and build each op's
    spans as (kind, name, start, end, parent kind). The op id set as a
    local property cross-checks the attribution; jobs started from pooled
    threads may lack it."""
    ops = [o for o in raw["ops"] if o["traced"]]
    windows = [(o["start"], o["end"]) for o in ops]
    per_op = {o["id"]: [("op", o["name"], o["start"], o["end"], None),
                        ("construct", o["name"], o["start"], o["c_end"], "op"),
                        ("write", o["name"], o["c_end"], o["end"], "op")]
              for o in ops}
    jobs_of = {o["id"]: [] for o in ops}
    phases_of = {o["id"]: [] for o in ops}
    check = {"jobs": 0, "without_property": 0, "mismatched": 0}

    def owner(t):
        i = stats.attribute(t, windows)
        return None if i is None else ops[i]

    def parent(o, t):
        return "construct" if t < o["c_end"] else "write"
    for j in raw["jobs"]:
        o = owner(j["start"])
        if o is None:
            continue
        check["jobs"] += 1
        if not j["prop"]:
            check["without_property"] += 1
        elif j["prop"] != str(o["id"]):
            check["mismatched"] += 1
        jobs_of[o["id"]].append(j)
        per_op[o["id"]].append(("job", f"job{j['job']}", j["start"], j["end"],
                                parent(o, j["start"])))
    for ph in raw["phases"]:
        o = owner(ph["start"])
        if o is None:
            continue
        phases_of[o["id"]].append(ph)
        per_op[o["id"]].append(("catalyst." + ph["phase"], ph["phase"],
                                ph["start"], ph["end"], parent(o, ph["start"])))
    return ops, per_op, jobs_of, phases_of, check


def self_times(spans):
    """Self time per span kind for one op's span tree."""
    out = {}
    for kind, _, s, e, par in spans:
        kids = [(cs, ce) for ck, _, cs, ce, cp in spans if cp == kind]
        if kind in ("op", "construct", "write"):
            out[kind] = out.get(kind, 0.0) + stats.self_time((s, e), kids)
        else:
            out[kind] = out.get(kind, 0.0) + (e - s)
    return out


def per_layer(raw, logged, untraced_per_op):
    ops, per_op, jobs_of, phases_of, check = op_spans(raw)
    print(f"attribution: {check['jobs']} jobs in traced op windows, "
          f"{check['without_property']} without the op property, "
          f"{check['mismatched']} whose property names another op")
    n = len(ops)
    nproc = raw["env"]["nproc"]
    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v
    selfs = {}
    for o in ops:
        js = jobs_of[o["id"]]
        busy, gap = stats.driver_gap(o["start"], o["end"],
                                     [(j["start"], j["end"]) for j in js])
        add("construct.ms", o["c_end"] - o["start"])
        add("construct.jobs", sum(1 for j in js if j["start"] < o["c_end"]))
        for ph in ("analysis", "optimization", "planning"):
            add(f"catalyst.{ph}_ms", sum(p["end"] - p["start"]
                                         for p in phases_of[o["id"]]
                                         if p["phase"] == ph))
        add("sched.jobs", len(js))
        add("sched.stages", sum(j["stages"] for j in js))
        add("sched.tasks", sum(j["tasks"] for j in js))
        add("sched.job_busy_ms", busy)
        add("sched.driver_gap_ms", gap)
        add("exec.run_ms", sum(j["run_ms"] for j in js))
        add("exec.cpu_ms", sum(j["cpu_ms"] for j in js))
        add("exec.gc_ms", sum(j["gc_ms"] for j in js))
        add("exec.tasks_failed", sum(j["tasks_failed"] for j in js))
        add("shuffle.write_bytes", sum(j["shuffle_write"] for j in js))
        add("shuffle.read_bytes", sum(j["shuffle_read"] for j in js))
        add("shuffle.spill_bytes", sum(j["spill"] for j in js))
        add("shuffle.fetch_wait_ms", sum(j["fetch_wait_ms"] for j in js))
        add("artifact.builds", o["builds"])
        add("artifact.bytes_written", o["artifact_bytes"])
        add("aqe.skew_splits", o["skew_splits"])
        add("fs.bytes_read", o["fs_bytes_read"])
        add("wall_ms", o["end"] - o["start"])
        for k, v in self_times(per_op[o["id"]]).items():
            selfs[k] = selfs.get(k, 0.0) + v
    m = {"registry.build_ms": (raw["registry_ms"], "ms"),
         "tables.load_ms": (stats.median(raw["table_loads_ms"]), "ms")}
    for k, unit in PER_OP_UNITS.items():
        m[k] = (tot.get(k, 0.0) / n, unit)
    m["exec.core_utilization"] = (
        tot.get("exec.run_ms", 0.0) / (tot["wall_ms"] * nproc), "ratio")
    m["exec.tasks_failed_ratio"] = (
        tot.get("exec.tasks_failed", 0.0) / max(1.0, tot.get("sched.tasks", 0.0)),
        "ratio")
    # job and Catalyst-phase spans are leaves: their self time is their
    # length, already reported above for the phases
    for kind in ("construct", "write", "job"):
        m[f"self.{kind}_ms"] = (selfs.get(kind, 0.0) / n, "ms")
    traced_per_op = {}
    for o in ops:
        if o["ok"]:
            traced_per_op.setdefault(o["name"], []).append(o["end"] - o["start"])
    m["trace.overhead_pct"] = (100.0 * (stats.median([
        stats.median(v) / stats.median(untraced_per_op[k])
        for k, v in traced_per_op.items() if k in untraced_per_op]) - 1.0),
        "%")
    m["trace.attribution_mismatches"] = (check["mismatched"], "count")
    m["driver.logged_exceptions"] = (len(logged), "count")
    return m


def write_spans(a, raw):
    ops, per_op = op_spans(raw)[:2]
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}-seed{a.seed}.jsonl")
    with open(path, "w") as f:
        for o in ops:
            for kind, name, s, e, par in per_op[o["id"]]:
                f.write(json.dumps({"op_id": o["id"], "op": o["name"],
                                    "span": kind, "name": name, "start_ms": s,
                                    "end_ms": e, "parent": par}) + "\n")
    return path


if __name__ == "__main__":
    main()
