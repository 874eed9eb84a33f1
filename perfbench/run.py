#!/usr/bin/env python3
"""Layered benchmark for the graft engine.

Run one workload (from the root of a checkout):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

The last stdout line is one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A fuller record (environment, inputs, checks, per-query layer table) is
written under perfbench/.work/results/.

Compare two sets of results (directories of result files):

    python3 perfbench/run.py compare PARENT_DIR CHANGE_DIR

Self-test the benchmark's maths (no Spark):

    python3 perfbench/run.py selftest
"""
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import benchstats as bs  # noqa: E402

# Passes per run: `warmup` untimed noop passes after the check pass (query
# workloads), then timed passes until --seconds are used, at least
# `min_passes` (traced runs: `traced_pairs` untraced/traced pairs), always
# an odd number.
WORKLOADS = {
    # floor-bound: graft.Bench's bench set on the testdata layout (one file,
    # one row group per table). One pass of the 25 queries fills the window,
    # and the check pass before it already ran each query once. The median
    # over 25 different queries is steady, where 7 passes of 5 queries put
    # it on whichever of two queries ran slower, and one of them swung by
    # half from run to run (IQR/median 0.23-0.31 over ten runs).
    "interactive": {
        "sf": 0.01, "files": 1, "layout": "sf0.01-f1",
        "tables": ["region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings"],
        "queries": ["q1_pricing_summary", "q3_dim_join_revenue", "q4_order_customer_revenue",
                    "q107_local_supplier_volume", "q122_pagerank", "q20_nested_counts",
                    "q21_select_reduce", "q23_hist1d", "q24_hist2d_weighted",
                    "q34_exact_dedup", "q36_minhash_lsh", "q37_simhash", "q38_ann_bruteforce",
                    "q82_decontamination", "q88_pq_adc", "q98_unigram_nll", "q119_cms_heavy",
                    "q120_deterministic_shuffle", "q125_bloom_decontamination",
                    "q182_duplicate_spans", "q194_winnow_fingerprints", "q184_nb_quality_llr",
                    "q42_calibrator_shifts", "q66_interp_lookup", "q62_scale_envelope"],
        "warmup": 0, "min_passes": 1, "traced_pairs": 1,
    },
    # the checkpointed calibrate/select/reduce/produce/hist analysis
    "staged": {
        "sf": 0.02, "files": 4, "layout": "sf0.02-f4",
        "tables": ["orders", "lineitem"],
        "queries": [],
        "min_passes": 1, "traced_pairs": 1,
    },
    # multi-file scan splits; not in BENCHMARK.json (a run takes well over
    # a minute), run by hand for operator and kernel work. With an odd
    # number of queries and an odd pass count the median and the tail
    # sample (10 from the top) each fall in the middle of one query's
    # samples, not between two queries.
    "scale": {
        "sf": 0.2, "files": 16, "layout": "sf0.2-f16",
        "tables": ["customer", "orders", "lineitem", "documents"],
        "queries": ["q1_pricing_summary", "q4_order_customer_revenue", "q21_select_reduce",
                    "q36_minhash_lsh", "q37_simhash"],
        "warmup": 1, "min_passes": 7, "traced_pairs": 3,
    },
}
# oracles that are all-pairs by design; at scale their check runs on the
# same seed's interactive (sf0.01) inputs instead
ALL_PAIRS_ORACLES = {"q35_jaccard_blocked", "q36_minhash_lsh", "q37_simhash",
                     "q92_containment_pairs", "q145_prefix_join", "q155_sparse_cosine"}
# A fixed heap and a fixed young generation: G1's adaptive sizing otherwise
# decides how much of the heap gets touched, and VmHWM (peak_rss_mb) then
# spread by a quarter between runs of the same code. With both fixed, eden
# is fully touched early and the peak moves with what the run retains (old
# generation, native buffers), not with the collector's sizing choices.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn256m"]
RUN_TIMEOUT_S = 170
STAGES = ["calibrate", "select", "reduce", "produce", "hist"]
STAGED_OPS = ["cold", "resume", "partial"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


# --- build -------------------------------------------------------------------

BUILD_STEPS = ["package", "export Runtime/fullClasspathAsJars"]


def source_digest():
    h = hashlib.sha256(json.dumps(BUILD_STEPS).encode())
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def run_logged(cmd, log_path, timeout, env=None, cwd=None):
    """Run a child in its own process group; kill the group on timeout.
    Returns its stdout, which is also appended to the log."""
    with open(log_path, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=cwd,
                             env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout}s (log: {log_path})")
        lf.write(out)
    if p.returncode != 0:
        raise BenchError(f"{cmd[0]} exited {p.returncode} (log: {log_path})")
    return out.decode()


def spark_jars():
    """The jar directory of the Spark installation named by SPARK_HOME."""
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not jars.is_dir():
        raise BenchError("SPARK_HOME must name a Spark installation")
    return jars


def build():
    """Compile the library and the harness with sbt once per source digest;
    later runs start the JVM directly on the recorded classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError("no library sources under src/main/scala/graft")
    digest = source_digest()
    stamp = WORK / "build.json"
    if stamp.exists():
        rec = json.loads(stamp.read_text())
        if rec["digest"] == digest:
            return rec
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    out = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      f"-Dperfbench.spark.jars={spark_jars()}"] + BUILD_STEPS,
                     WORK / "build.log", 800, env=env, cwd=HERE)
    cp = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    rec = {"digest": digest, "classpath": cp, "seconds": round(time.time() - t0, 1)}
    stamp.write_text(json.dumps(rec))
    return rec


def java(build_rec, args, log_path, timeout):
    """Run the harness JVM. The first run of a build records the classes it
    loads in a class-data-sharing archive; later runs map it, which takes
    several seconds off JVM start-up and first-query class loading."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    archive = WORK / f"classes-{build_rec['digest']}.jsa"
    dumping = not archive.exists()
    fresh = archive.with_suffix(".tmp")
    cmd += [f"-XX:ArchiveClassesAtExit={fresh}" if dumping else f"-XX:SharedArchiveFile={archive}",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", build_rec["classpath"], "perfbench.Main"] + args
    # few malloc arenas, so native allocations do not spread over one arena
    # per thread and blur the peak
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=str(tmp / "spark"),
               MALLOC_ARENA_MAX="2")
    out = run_logged(cmd, log_path, timeout, env=env, cwd=ROOT)
    if dumping and fresh.exists():
        for old in WORK.glob("classes-*.jsa"):
            old.unlink()
        os.replace(fresh, archive)
    return out


# --- inputs --------------------------------------------------------------------

def ensure_base(build_rec, sf):
    d = WORK / "data" / "base" / f"sf{sf}"
    if not (d / "_DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        d.parent.mkdir(parents=True, exist_ok=True)
        t0 = time.time()
        java(build_rec, ["--mode", "gendata", "--out", str(d), "--sf", str(sf)],
             WORK / "gendata.log", 800)
        (d / "_DONE").write_text("")
        log(f"generated sf{sf} in {time.time() - t0:.1f}s")
    return d


def ensure_inputs(build_rec, workload, seed):
    import fixtures
    w = WORKLOADS[workload]
    base = ensure_base(build_rec, w["sf"])
    return fixtures.ensure_seeded(WORK, base, w["layout"], w["tables"], seed, w["files"], log)


# --- environment -----------------------------------------------------------------

def environment(raw, build_rec):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    cpu = next((ln.split(":", 1)[1].strip() for ln in Path("/proc/cpuinfo").read_text().splitlines()
                if ln.startswith("model name")), None)
    import duckdb
    e = raw["env"]
    return {"git_commit": commit, "source_digest": build_rec["digest"], "nproc": cores(),
            "session_cores": e["default_parallelism"], "max_heap_bytes": e["max_heap_bytes"],
            "heap": " ".join(JVM_MEMORY), "spark_version": e["spark_version"], "java_version": e["java_version"],
            "java_vm": e["java_vm"], "scala_version": e["scala_version"], "cpu_model": cpu,
            "python_version": platform.python_version(), "duckdb_version": duckdb.__version__}


# fields that must agree before two results are compared
PAIRING_ENV = ["nproc", "session_cores", "max_heap_bytes", "spark_version", "java_version",
               "cpu_model"]


# --- output checks --------------------------------------------------------------------

def check_queries(workload, check_dir, inputs, subs):
    """Compare each query's warm-up output with its oracle. Returns
    {query: None or a list of differences}."""
    import fixtures
    import oracle
    sqls = json.loads((check_dir / "oracle_sql.json").read_text())
    out = {}
    for q in WORKLOADS[workload]["queries"]:
        d, rec = subs.get(q, inputs)
        key = f"sf-{fixtures.content_key(rec)}"
        if q not in sqls:
            out[q] = ["no oracle registered"]
            continue
        try:
            expected = oracle.oracle_result(WORK / "oracle" / key, q, sqls[q], d, WORK / "tmp")
            out[q] = oracle.compare(check_dir / q, expected) or None
        except Exception as e:  # an oracle or read error fails the check
            out[q] = [f"{type(e).__name__}: {e}"]
    return out


# --- metrics ----------------------------------------------------------------------

def e2e_metrics(raw, workload):
    ops = raw["ops"]
    timed = [o for o in ops if o["kind"] == "timed"]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    if workload == "staged":
        samples = [c["wall_s"] for o in timed for c in o["calls"]]
    else:
        samples = [o["wall_s"] for o in timed]
    tail, pct, n = bs.tail(samples)
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "pass_s": (statistics.median([p["wall_s"] for p in untraced]), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail, "s"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }
    if workload == "staged":
        for name in STAGED_OPS:
            m[f"{name}_s"] = (statistics.median([o["wall_s"] for o in timed if o["name"] == name]), "s")
    return m, {"tail_percentile": pct, "tail_samples": n}


def span_tree(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(s):
        for c in kids.get(s["id"], []):
            yield c
            yield from under(c)
    return under


def layer_metrics(raw, workload):
    """Per-layer metrics: per-pass totals over the traced passes, median
    across passes. Also returns the per-query layer table."""
    spans = raw["spans"]
    under = span_tree(spans)
    ncores = raw["env"]["default_parallelism"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    per_pass, table = [], []
    for p in traced:
        roots = [s for s in spans if s["layer"] == "query" and s["attrs"].get("pass") == p["pass"]]
        m = {k: 0.0 for k in LAYER_METRICS}
        m["core.load_s"] = p["load_probe_s"]
        m["exec.gc_s"] = p["gc_s"]
        wall_total = 0.0
        coverages = []
        for r in roots:
            wall = r["end"] - r["start"]
            wall_total += wall
            desc = list(under(r))
            jobs = [s for s in desc if s["layer"] == "job"]
            stages = [s for s in desc if s["layer"] == "stage"]
            builds = [s for s in desc if s["layer"] == "queries"]
            build_ids = {s["id"] for b in builds for s in under(b)}
            plan = [s for s in desc if s["layer"] == "plans"]
            ex = [s for s in desc if s["layer"] == "exec"]
            build_s = sum(s["end"] - s["start"] for s in builds)
            plan_s = sum(s["end"] - s["start"] for s in plan)
            src = plan[0]["attrs"] if plan else r["attrs"]
            if workload == "staged":
                exec_s = bs.union_length([(s["start"], s["end"]) for s in jobs])
                covered = bs.union_length([(s["start"], s["end"]) for s in desc
                                           if s["layer"] == "pipeline"]) / wall
            else:
                exec_s = sum(s["end"] - s["start"] for s in ex)
                covered = bs.coverage(build_s, plan_s, exec_s, wall)
            coverages.append(covered)
            m["queries.build_s"] += build_s
            m["queries.build_jobs"] += sum(1 for j in jobs if j["id"] in build_ids)
            for k in ("analysis_s", "optimization_s", "planning_s", "exchanges", "windows"):
                m[f"plans.{k}"] += src.get(k, 0)
            m["exec.wall_s"] += exec_s
            m["exec.jobs"] += len(jobs)
            m["exec.stages"] += len(stages)
            for s in stages:
                a = s["attrs"]
                m["exec.tasks"] += a["tasks"]
                m["exec.task_s"] += a["task_s"]
                m["exec.critical_s"] += a["max_task_s"]
                m["exec.shuffle_write_bytes"] += a["shuffle_write_bytes"]
                m["exec.shuffle_read_bytes"] += a["shuffle_read_bytes"]
                m["exec.spill_bytes"] += a["spill_bytes"]
                m["exec.input_bytes"] += a["input_bytes"]
                m["exec.failed_tasks"] += a["failed_tasks"]
            row = {"pass": p["pass"], "op": r["name"], "wall_s": wall, "build_s": build_s,
                   "plan_s": plan_s, "exec_s": exec_s, "coverage": covered,
                   "jobs": len(jobs), "stages": len(stages),
                   "stage_rows": [dict(s["attrs"], stage=s["name"], wall_s=s["end"] - s["start"])
                                  for s in stages]}
            if workload == "staged":
                row["calls"] = [{"stage": s["name"], "wall_s": s["end"] - s["start"]}
                                for s in desc if s["layer"] == "pipeline"]
            table.append(row)
        m["queries.build_share"] = m["queries.build_s"] / wall_total if wall_total else 0.0
        if m["exec.wall_s"]:
            m["exec.core_util"] = m["exec.task_s"] / (m["exec.wall_s"] * ncores)
        m["layers.coverage"] = min(coverages) if coverages else 0.0
        if workload == "staged":
            ops = [o for o in raw["ops"] if o["kind"] == "traced" and o["pass"] == p["pass"]]
            for o in ops:
                for st in STAGES:
                    m[f"pipeline.{o['name']}.{st}_s"] = sum(
                        c["wall_s"] for c in o["calls"] if c["stage"] == st)
                m[f"pipeline.{o['name']}.skip_ratio"] = (
                    sum(1 for c in o["calls"] if not c["built"]) / len(o["calls"]))
                if o["name"] == "cold":
                    m["pipeline.checkpoint_bytes"] = o["checkpoint_bytes"]
                    m["pipeline.checkpoint_files"] = o["checkpoint_files"]
        per_pass.append(m)
    out = {k: statistics.median([m[k] for m in per_pass]) for k in LAYER_METRICS}
    out["trace.overhead"] = (statistics.median([p["wall_s"] for p in traced]) /
                             statistics.median([p["wall_s"] for p in untraced]) - 1.0)
    self_t = bs.layer_self_times(spans)
    return out, table, {k: v / len(traced) for k, v in self_t.items()}


LAYER_METRICS = (
    ["core.load_s", "queries.build_s", "queries.build_jobs", "queries.build_share",
     "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.exchanges",
     "plans.windows", "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
     "exec.core_util", "exec.critical_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
     "exec.spill_bytes", "exec.input_bytes", "exec.gc_s", "exec.failed_tasks"]
    + [f"pipeline.{o}.{s}_s" for o in STAGED_OPS for s in STAGES]
    + [f"pipeline.{o}.skip_ratio" for o in STAGED_OPS]
    + ["pipeline.checkpoint_bytes", "pipeline.checkpoint_files", "trace.overhead",
       "layers.coverage"])


def layer_unit(name):
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_share", "_ratio", "core_util", "overhead", "coverage")):
        return "ratio"
    return "count"


# --- one run ------------------------------------------------------------------------

def run(args):
    workload, seed, seconds, trace = args["workload"], args["seed"], args["seconds"], args["trace"]
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload}")
    WORK.mkdir(exist_ok=True)
    t_start = time.time()
    build_rec = build()
    inputs, rec = ensure_inputs(build_rec, workload, seed)
    subs = {}
    if workload == "scale":
        for q in WORKLOADS["scale"]["queries"]:
            if q in ALL_PAIRS_ORACLES:
                subs[q] = ensure_inputs(build_rec, "interactive", seed)
    tag = f"{workload}-s{seed}-t{trace}-{int(time.time() * 1000)}"
    run_dir = WORK / "runs" / tag
    check_dir = run_dir / "check"
    check_dir.mkdir(parents=True)
    raw_path = run_dir / "raw.json"
    w = WORKLOADS[workload]
    queries = w["queries"]
    min_passes = w["traced_pairs"] if trace else w["min_passes"]
    jargs = ["--mode", "run", "--workload", workload, "--inputs", str(inputs),
             "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores()),
             "--local-dir", str(run_dir), "--tables", ",".join(w["tables"]),
             "--check-dir", str(check_dir), "--out", str(raw_path),
             "--min-passes", str(min_passes)]
    if queries:
        jargs += ["--queries", ",".join(queries), "--warmup-passes", str(w["warmup"])]
    if subs:
        jargs += ["--check-on", ",".join(f"{q}={d}" for q, (d, _) in subs.items())]
    t0 = time.time()
    java(build_rec, jargs, run_dir / "jvm.log", RUN_TIMEOUT_S)
    raw = json.loads(raw_path.read_text())
    log(f"jvm run {time.time() - t0:.1f}s")

    checks = check_queries(workload, check_dir, (inputs, rec), subs) if queries else {}
    ops = raw["ops"]
    failed_ops = [o for o in ops if not o["ok"] or
                  (o["kind"] == "check" and checks.get(o["name"]))]
    attempted = len(ops)
    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "env": environment(raw, build_rec),
        "inputs": dict(rec, substitutions={q: {"inputs": r["layout"], "seed": r["seed"]}
                                           for q, (_, r) in subs.items()}),
        "attempted": attempted, "failed": len(failed_ops),
        "failed_frac": len(failed_ops) / attempted,
        "failures": [{"op": o["name"], "kind": o["kind"], "error": o["error"] or checks.get(o["name"])}
                     for o in failed_ops],
        "checks": {q: (v or "ok") for q, v in checks.items()},
        "setup_runs_s": raw["setup_s"], "measured_s": raw["measured_s"],
        "warmup_s": sum(o["wall_s"] for o in ops if o["kind"] in ("check", "warmup")),
        "passes": raw["passes"],
        "op_walls": [{"pass": o["pass"], "kind": o["kind"], "name": o["name"], "wall_s": o["wall_s"]}
                     for o in ops],
    }
    if trace:
        metrics, table, self_times = layer_metrics(raw, workload)
        result["layer_self_s"] = self_times
        result["query_layers"] = table
        printed = {k: {"value": metrics[k], "unit": layer_unit(k)} for k in LAYER_METRICS}
        result["metrics"] = printed
    else:
        metrics, extra = e2e_metrics(raw, workload)
        result.update(extra)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        result["metrics"]["failed_frac"] = {"value": result["failed_frac"], "unit": "ratio"}
        printed = {k: result["metrics"][k] for k in E2E_METRICS}
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(result, indent=1))
    if not trace:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        shutil.rmtree(check_dir, ignore_errors=True)
        shutil.rmtree(run_dir / "staged", ignore_errors=True)
    log(f"result: {results / (tag + '.json')} ({time.time() - t_start:.1f}s)")
    return {"correct": not failed_ops, "attempted": attempted, "failed": len(failed_ops),
            "metrics": printed}


E2E_METRICS = ["setup_s", "pass_s", "query_p50_s", "query_tail_s", "peak_rss_mb"]


# --- compare --------------------------------------------------------------------------

def load_results(d):
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        if r.get("trace") == 0 and "metrics" in r:
            out.setdefault(r["workload"], {})[r["seed"]] = r
    return out


def bounds():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    b = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    # the staged per-operation medians are compared under pass_s's bound
    b.update({f"{op}_s": b["pass_s"] for op in STAGED_OPS})
    return b


def compare(parent_dir, change_dir):
    parent, change = load_results(parent_dir), load_results(change_dir)
    all_results = [r for s in (parent, change) for w in s.values() for r in w.values()]
    if not all_results:
        raise BenchError("no untraced results to compare")
    ref = all_results[0]["env"]
    for r in all_results:
        diff = [k for k in PAIRING_ENV if r["env"].get(k) != ref.get(k)]
        if diff:
            raise BenchError(f"environments differ in {diff}; refusing to compare")
    report = {"pairs": [], "failed_frac": {}}
    for wl in sorted(set(parent) & set(change)):
        p, c = parent[wl], change[wl]
        seeds = sorted(set(p) & set(c))
        for s in seeds:
            if p[s]["inputs"]["tables"] != c[s]["inputs"]["tables"]:
                raise BenchError(f"{wl} seed {s}: inputs differ; refusing to compare")
        if not seeds:
            continue
        for metric, (bound, better) in bounds().items():
            if metric not in p[seeds[0]]["metrics"]:
                continue
            pv = {s: p[s]["metrics"][metric]["value"] for s in seeds}
            cv = {s: c[s]["metrics"][metric]["value"] for s in seeds}
            v = bs.verdict(pv, cv, better, bound)
            report["pairs"].append(dict(v, workload=wl, metric=metric, bound=bound))
        pf = [p[s]["failed_frac"] for s in seeds]
        cf = [c[s]["failed_frac"] for s in seeds]
        report["failed_frac"][wl] = {
            "parent": sum(pf) / len(pf), "change": sum(cf) / len(cf),
            "verdict": "regressed" if sum(cf) > sum(pf) else "no worse"}
    for row in report["pairs"]:
        ratio = f"{row['ratio']:.3f}x of {row['base']:.4g}" if row["ratio"] else "n/a"
        print(f"{row['workload']:12s} {row['metric']:14s} {row['verdict']:10s} "
              f"parent {row['parent_median']:.4g} [{row['parent_quartiles'][0]:.4g}, "
              f"{row['parent_quartiles'][1]:.4g}]  change {row['change_median']:.4g} "
              f"[{row['change_quartiles'][0]:.4g}, {row['change_quartiles'][1]:.4g}]  "
              f"{ratio}  wins {row['wins']}/{row['wins'] + row['losses']} "
              f"(ties {row['ties']})", file=sys.stderr)
    for wl, f in report["failed_frac"].items():
        print(f"{wl:12s} failed_frac    {f['verdict']:10s} parent {f['parent']:.4g} "
              f"change {f['change']:.4g}", file=sys.stderr)
    print(json.dumps(report))
    return report


# --- entry ------------------------------------------------------------------------------

def parse_run_args(argv):
    args = {"trace": 0}
    it = iter(argv)
    for a in it:
        if not a.startswith("--"):
            raise BenchError(f"unexpected argument {a}")
        args[a[2:]] = next(it)
    try:
        return {"workload": args["workload"], "seed": int(args["seed"]),
                "seconds": int(args["seconds"]), "trace": int(args["trace"])}
    except (KeyError, ValueError) as e:
        raise BenchError(f"bad arguments: {e}")


def main(argv):
    try:
        if argv and argv[0] == "selftest":
            import unittest
            suite = unittest.defaultTestLoader.discover(str(HERE / "tests"))
            return 0 if unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful() else 1
        if argv and argv[0] == "compare":
            compare(argv[1], argv[2])
            return 0
        out = run(parse_run_args(argv))
        print(json.dumps(out))
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
