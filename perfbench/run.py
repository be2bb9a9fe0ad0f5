#!/usr/bin/env python3
"""graft benchmark: one run of one workload, measured from outside the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness (sbt, offline) into the build directory and caches the classpath;
later runs reuse it while the sources are unchanged. Each run then

  1. checks the committed fixture (perfbench/fixtures, row counts and SHA-256
     recorded in perfbench/workloads.json) and copies it into the run's
     work directory;
  2. starts one JVM (Spark local[k], k = usable cpus) that sets up once,
     makes one untimed verification pass and one warm-up pass, then runs the
     workload's queries in a closed loop for --seconds, in an order permuted
     by --seed (perfbench/harness);
  3. checks every verified result against graft's DuckDB oracle SQL, and
     every digest, verified and timed, against the expected digests
     committed in perfbench/workloads.json;
  4. prints host-noise readings, then one JSON line: correct, attempted,
     failed and the metrics (end-to-end with --trace 0, per-layer with
     --trace 1).

`--selfcheck` instead runs every workload at sf0.001 with and without trace
and checks the harness itself (see selfcheck()). Workloads, metric meanings
and the layer table are in perfbench/workloads.json and perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
FIXTURES = os.path.join(HERE, "fixtures")
# Host-speed correction. Calibrate.run's CPU seconds read about 0.33 on the
# 4-core reference VM the bounds were set on; a run's pass wall, pass CPU and
# query latency are multiplied by (REF / its median calibration) ** 0.5. The
# timings rose with the calibration at an elasticity of 0.2-0.9 (0.6 over
# 40 runs) on this VM, so the square root removes most of a host-speed drift
# without over-correcting the workload least sensitive to it. setup_s runs
# before any calibration and is reported as read; the host line carries
# every timing as read.
REF_CALIBRATION_CPU_S = 0.33
CALIBRATION_ELASTICITY = 0.5
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    return spec, bench


# ---------------------------------------------------------------- build

def source_key(root):
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), HARNESS):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
        files += sorted(glob.glob(os.path.join(base, "**", "*.sbt"), recursive=True))
        files += sorted(glob.glob(os.path.join(base, "**", "build.properties"), recursive=True))
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft + the harness once; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no graft sources here ({need} missing); run from a graft checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")
    key = source_key(root)
    stamp = os.path.join(build_dir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("key") == key and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {build_dir}/build.log")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


# ---------------------------------------------------------------- fixture

def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def check_fixture(d, recorded):
    """The fixture's files, row counts and SHA-256 equal the recorded ones."""
    import pyarrow.parquet as pq
    have = sorted(f[:-len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet"))
    if have != sorted(recorded):
        fail(f"fixture {d} holds {have}, expected {sorted(recorded)}")
    for t, want in recorded.items():
        p = os.path.join(d, f"{t}.parquet")
        rows = pq.ParquetFile(p).metadata.num_rows
        if rows != want["rows"] or sha256(p) != want["sha256"]:
            fail(f"fixture {p} differs from its record ({rows} rows)")


# ---------------------------------------------------------------- run

def cores():
    return len(os.sched_getaffinity(0))


def steal_ticks():
    """Hypervisor steal in USER_HZ ticks summed over cpus, as the harness reads it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0


def run_jvm(classpath, work, wl, args, k, fixture_dir):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(k),
            "--fixture", fixture_dir, "--warehouse", os.path.join(work, "warehouse"),
            "--out", work, "--queries", ",".join(wl["queries"]),
            "--prebuilds", ",".join(f"{n}={q}" for n, q in wl["prebuilds"].items())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    steal0 = steal_ticks()
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    jvm_wall = time.time() - t0
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM failed ({rc}):\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(work, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result["setup"]["steal_s"] = (result["setup"]["end_steal_ticks"] - steal0) / 100.0
    return result, spans, oracle, jvm_wall


def oracle_check(fixture_dir, work, oracle):
    """Compare each verified Spark result with graft's DuckDB oracle SQL:
    columns by name, rows sorted, values exact. Returns {query: problem}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM '{fixture_dir}/{f}'")
    bad = {}
    for q, sql in oracle.items():
        if not sql:
            bad[q] = "no oracle SQL"
            continue
        try:
            exp = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM '{work}/results/{q}/*.parquet'").df()
        except Exception as e:  # noqa: BLE001 - any failure is a finding
            bad[q] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            bad[q] = f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
            continue
        cols = sorted(exp.columns)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        e = exp[cols].sort_values(cols).reset_index(drop=True)
        if len(g) != len(e):
            bad[q] = f"{len(g)} rows vs oracle {len(e)}"
            continue
        for c in cols:
            neq = (g[c] != e[c]) & ~(g[c].isna() & e[c].isna())
            if neq.any():
                i = neq.idxmax()
                bad[q] = f"{int(neq.sum())} values of {c} differ, first {g[c][i]!r} vs {e[c][i]!r}"
                break
    return bad


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(result):
    """End-to-end timings as read, except that wall times lose the time the
    hypervisor ran other guests on this VM's cpus (steal, averaged over the
    cpus): that wait is the host's, not graft's."""
    passes = [p for p in result["passes"] if not p["traced"] and not p["warmup"]]
    unstolen = lambda wall, steal_s: wall - steal_s / result["host_cpus"]
    latency = {}  # build + digest collect, by query
    for e in result["execs"]:
        if not e["traced"] and not e["warmup"]:
            latency.setdefault(e["query"], []).append(
                unstolen(e["build_s"] + e["exec_s"], e["steal_s"]))
    return {
        "setup_s": unstolen(result["setup"]["setup_s"], result["setup"]["steal_s"]),
        "pass_wall_s": median([unstolen(p["wall_s"], p["steal_s"]) for p in passes]),
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        "query_p50_s": median([median(v) for v in latency.values()]),
    }


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_seconds(span, kids):
    return (span["end_s"] - span["start_s"]) - sum(
        c["end_s"] - c["start_s"] for c in kids.get(span["id"], []))


def per_layer(result, spans, k, modules, artifacts):
    """Per-layer readings from the traced run's spans and listener counts.
    Pass-level figures are per traced pass; set-up figures come from the
    run's one set-up."""
    by_id = {s["id"]: s for s in spans}
    kids = children_of(spans)
    lst = result["listener"] or {"spans": {}, "streaming": {}}
    counts = {int(i): c for i, c in lst["spans"].items()}

    def cnt(ids, key):
        return sum(counts.get(i, {}).get(key, 0.0) for i in ids)

    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"] and not p["warmup"]]
    n = max(1, len(traced))
    tp = {p["span"] for p in traced}
    queries = [s for s in spans if s["parent"] in tp]
    qids = {s["id"] for s in queries}
    sub = [s for s in spans if s["parent"] in qids]
    build = [s["id"] for s in sub if s["name"] == "build"]
    execs = [s["id"] for s in sub if s["name"] == "exec"]
    release = [s["id"] for s in sub if s["name"] == "release"]
    all_q = build + execs + release
    dur = lambda ids: sum(by_id[i]["end_s"] - by_id[i]["start_s"] for i in ids)
    m = {}
    setup = result["setup"]
    m["session.start_s"] = setup["session_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    for name in artifacts:
        m[f"artifacts.{name}.build_s"] = setup["artifacts"].get(name, 0.0)
    art_ids = list(setup["artifact_spans"].values())
    m["artifacts.build_jobs"] = cnt(art_ids, "jobs")
    m["artifacts.write_mb"] = cnt(art_ids, "output_b") / 2**20
    # a repeat builder call hits when it launches fewer jobs than the cold
    # call: the fit's jobs are gone, the table reads' schema jobs remain
    cold, repeat = setup["artifact_spans"], setup["repeat_spans"]
    m["artifacts.hit_ratio"] = (
        sum(1 for a in repeat if cnt([repeat[a]], "jobs") < cnt([cold[a]], "jobs"))
        / len(repeat) if repeat else 0.0)
    m["operators.build_s"] = dur(build) / n
    m["operators.exec_s"] = dur(execs) / n
    m["operators.build_jobs"] = cnt(build, "jobs") / n
    texecs = [e for e in result["execs"] if e["traced"]]
    for mod in modules:
        m[f"operators.{mod}.build_s"] = sum(e["build_s"] for e in texecs if e["module"] == mod) / n
        m[f"operators.{mod}.exec_s"] = sum(e["exec_s"] for e in texecs if e["module"] == mod) / n
    attr = lambda key: sum(s.get(key, 0.0) for s in queries) / n
    m["plans.analysis_s"] = attr("analysis_s")
    m["plans.optimization_s"] = attr("optimization_s")
    m["plans.planning_s"] = attr("planning_s")
    m["plans.codegen_compiles"] = attr("codegen_compiles")
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
                "single_task_stages"):
        m[f"exec.{key}"] = cnt(execs, key) / n
    exec_wall = dur(execs)
    m["exec.slot_idle_frac"] = (
        1.0 - cnt(execs, "task_run_s") / (exec_wall * k) if exec_wall > 0 else 0.0)
    skews = sorted(x for i in build + execs for x in counts.get(i, {}).get("skews", []))
    m["exec.skew_p90"] = skews[min(len(skews) - 1, int(0.9 * len(skews)))] if skews else 0.0
    mb = 2.0 ** 20
    m["shuffle.write_mb"] = cnt(all_q, "shuffle_write_b") / mb / n
    m["shuffle.read_mb"] = cnt(all_q, "shuffle_read_b") / mb / n
    m["shuffle.fetch_wait_s"] = cnt(all_q, "fetch_wait_s") / n
    m["spill.memory_mb"] = cnt(all_q, "spill_memory_b") / mb / n
    m["spill.disk_mb"] = cnt(all_q, "spill_disk_b") / mb / n
    m["sources.scan_mb"] = attr("scan_mb")
    m["sources.scan_rows"] = cnt(all_q, "input_rows") / n
    m["sources.files_read"] = attr("files_read")
    m["sources.write_mb"] = cnt(all_q, "output_b") / mb / n
    m["sources.write_rows"] = cnt(all_q, "output_rows") / n
    m["checkpoints.rdds"] = attr("checkpoint_rdds")
    m["checkpoints.mb"] = attr("checkpoint_mb")
    for key in ("batches", "input_rows", "batch_s", "state_rows"):
        m[f"streaming.{key}"] = lst["streaming"].get(key, 0.0) / n
    # self time of every span under the traced passes, by layer; by
    # construction these four add up to the traced pass wall
    m["layer.build_s"] = sum(self_seconds(by_id[i], kids) for i in build) / n
    m["layer.exec_s"] = sum(self_seconds(by_id[i], kids) for i in execs) / n
    m["layer.release_s"] = sum(self_seconds(by_id[i], kids) for i in release) / n
    m["layer.harness_s"] = (sum(self_seconds(by_id[i], kids) for i in tp)
                            + sum(self_seconds(s, kids) for s in queries)) / n
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.live_heap_mb"] = result["live_heap_mb"]
    m["trace.pass_wall_s"] = median([p["wall_s"] for p in traced])
    m["trace.overhead"] = m["trace.pass_wall_s"] / median([p["wall_s"] for p in untraced])
    return m


def span_problems(spans, jvm_wall):
    """Trace checks: every child lies inside its parent, siblings do not
    overlap, every query span has build and exec children, and the run span
    (timed inside the JVM from its start time) is no longer than the JVM's
    wall time as read from outside it. Returns a list of problems."""
    by_id = {s["id"]: s for s in spans}
    kids = children_of(spans)
    eps = 1e-6
    problems = []
    for s in spans:
        if s["end_s"] < s["start_s"]:
            problems.append(f"span {s['id']} {s['name']} never closed")
        p = by_id.get(s["parent"])
        if s["parent"] and p is None:
            problems.append(f"span {s['id']} has unknown parent {s['parent']}")
        elif p and not (p["start_s"] - eps <= s["start_s"] and s["end_s"] <= p["end_s"] + eps):
            problems.append(f"span {s['id']} {s['name']} outside parent {p['name']}")
        if s["name"].startswith("query:"):
            names = {c["name"] for c in kids.get(s["id"], [])}
            if not {"build", "exec"} <= names:
                problems.append(f"span {s['id']} {s['name']} lacks build/exec children")
    for parent, cs in kids.items():
        cs = sorted(cs, key=lambda c: c["start_s"])
        for a, b in zip(cs, cs[1:]):
            if b["start_s"] < a["end_s"] - eps:
                problems.append(f"spans {a['id']} {a['name']} and {b['id']} {b['name']} overlap")
    runs = [s for s in spans if s["name"] == "run"]
    if len(runs) != 1:
        problems.append(f"{len(runs)} run spans")
    elif runs[0]["end_s"] - runs[0]["start_s"] > jvm_wall + 0.05:
        problems.append(f"run span {runs[0]['end_s'] - runs[0]['start_s']:.3f} s is longer "
                        f"than the JVM's wall {jvm_wall:.3f} s")
    return problems


def listener_problems(result, spans, k):
    """Traced runs: the task time the listener attributes to an exec span
    fits in that span's wall on k slots, so jobs land on the span they ran
    under."""
    lst = result["listener"]
    if not lst:
        return []
    problems = []
    for s in spans:
        if s["name"] != "exec":
            continue
        task_s = lst["spans"].get(str(s["id"]), {}).get("task_run_s", 0.0)
        wall = s["end_s"] - s["start_s"]
        if task_s > wall * k * 1.05 + 0.02:
            problems.append(f"exec span {s['id']}: {task_s:.3f} task s in {wall:.3f} s wall")
    return problems


def measure(args, spec, bench, root, fixture_name=None):
    """One run; returns (line dict, host dict, extras)."""
    wl = spec["workloads"][args.workload]
    fixture_name = fixture_name or wl["fixture"]
    recorded = spec["fixtures"][fixture_name]["tables"]
    expected = wl["expected"].get(fixture_name, {})
    source = os.path.join(FIXTURES, fixture_name)
    check_fixture(source, recorded)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.abspath(os.path.join(root, build_dir))
    classpath = build(root, build_dir)
    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fixture_dir = shutil.copytree(source, os.path.join(work, "fixture"))
        k = cores()
        result, spans, oracle, jvm_wall = run_jvm(classpath, work, wl, args, k, fixture_dir)
        check_fixture(fixture_dir, recorded)
        wrong = oracle_check(fixture_dir, work, oracle)
        for q, ref in result["reference"].items():
            if ref != expected.get(q):
                wrong.setdefault(q, f"verified digest {ref} is not the expected {expected.get(q)}")
        for q, why in sorted(wrong.items()):
            log(f"wrong result: {q}: {why}")
        execs = result["execs"]
        failed = [e for e in execs if e["digest"] != expected.get(e["query"]) or e["query"] in wrong]
        for e in failed:
            if e["digest"] != expected.get(e["query"]):
                log(f"timed execution gave digest {e['digest']}: {e['query']}")
        problems = span_problems(spans, jvm_wall) + listener_problems(result, spans, k)
        for p in problems:
            log(f"trace: {p}")
        raw = end_to_end(result)
        if args.trace:
            modules = sorted({m.split(".")[1] for m in (x["name"] for x in bench["per_layer"])
                              if m.startswith("operators.") and m.count(".") == 2})
            artifacts = sorted({n for w in spec["workloads"].values() for n in w["prebuilds"]})
            values = per_layer(result, spans, k, modules, artifacts)
            names = bench["per_layer"]
        else:
            scale = (REF_CALIBRATION_CPU_S / median(result["calibration_cpu_s"])) \
                ** CALIBRATION_ELASTICITY
            values = {n: v if n == "setup_s" else v * scale for n, v in raw.items()}
            names = bench["end_to_end"]
        metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in names}
        host = {"workload": args.workload, "seed": args.seed, "k": k, "fixture": fixture_name,
                "passes": len(result["passes"]), "executions": len(execs),
                "failed_frac": len(failed) / max(1, len(execs)),
                "calibration_wall_s": result["calibration_wall_s"],
                "calibration_cpu_s": result["calibration_cpu_s"], "raw": raw,
                "steal_ticks": result["steal_ticks"], "loadavg": result["loadavg"],
                "gc_s": result["timed_gc_s"], "jvm_gc_s": result["jvm_gc_s"]}
        line = {"correct": not failed and not problems, "attempted": len(execs),
                "failed": len(failed), "metrics": metrics}
        return line, host, {"problems": problems, "result": result}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


def selfcheck(spec, bench, root):
    """Every workload on the sf0.001 fixture, untraced and traced: each
    named metric is emitted with its unit, the outputs are correct, and the
    trace passes span_problems and listener_problems."""
    ok = True
    for name in spec["workloads"]:
        for trace in (0, 1):
            a = argparse.Namespace(workload=name, seed=1, seconds=1.0, trace=trace, keep=False,
                                   fixture="sf0.001")
            line, host, extra = measure(a, spec, bench, root, a.fixture)
            names = bench["per_layer" if trace else "end_to_end"]
            missing = [d["name"] for d in names
                       if line["metrics"].get(d["name"], {}).get("unit") != d["unit"]]
            problems = list(extra["problems"]) + [f"metric {m} missing" for m in missing]
            if not line["correct"]:
                problems.append(f"run not correct ({line['failed']} of {line['attempted']} failed)")
            status = "ok" if not problems else "FAIL"
            print(f"{status:4s} {name} trace={trace} attempted={line['attempted']} "
                  f"metrics={len(line['metrics'])}")
            for p in problems:
                print(f"     {p}")
            ok = ok and not problems
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", help="fixture under perfbench/fixtures (default: the workload's)")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(HERE, "workloads.json")) or \
            not os.path.exists("BENCHMARK.json"):
        fail("run from the checkout root (BENCHMARK.json, perfbench/workloads.json)")
    spec, bench = load_spec()
    if args.selfcheck:
        sys.exit(selfcheck(spec, bench, root))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    line, host, _ = measure(args, spec, bench, root, args.fixture)
    print("host " + json.dumps(host))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
