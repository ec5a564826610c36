#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the benchmark from source
into $CARGO_TARGET_DIR (default .bench_build), runs the workload in one
JVM on local[N] with N the usable core count, checks every timed
operation, and prints one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# workload -> [(scale factor, tables)]; lineitem has 6M x sf rows, documents
# 50k x sf, embeddings 20k x sf
INPUTS = {
    "batch": [(0.005, ["customer", "orders", "lineitem"]),
              (0.02, ["documents", "embeddings"])],
    "stream_ingest": [(0.02, ["documents"])],
}
FEED_TEXTS = 2000  # stream_ingest's pool of fresh documents
SETUP_REPEATS = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala (run from the repository root)")
    return main + bench


def build(root, build_dir, jars):
    """Compile graft and the benchmark with the Scala compiler Spark ships;
    the output is cached under a hash of the sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def run_jvm(classes, jars, args, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + args)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run timed out")
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the run failed (exit {code})")


def generate(workload, seed, out):
    """Generate the workload's inputs SETUP_REPEATS times; returns the median
    generation time and the fingerprint of the copy the run uses."""
    times = []
    for i in range(SETUP_REPEATS):
        d = os.path.join(out, "data" if i == SETUP_REPEATS - 1 else f"data-{i}")
        t0 = time.time()
        con = oracle.connect(os.path.join(out, "tmp"))
        try:
            g = gen.Gen(con, seed)
            for sf, tables in INPUTS[workload]:
                g.write(d, sf, tables)
            if workload == "stream_ingest":
                g.feed_texts(os.path.join(d, "feed.parquet"), FEED_TEXTS)
            times.append(time.time() - t0)
            if i == SETUP_REPEATS - 1:
                fp = gen.fingerprint(con, d, [t for _, ts in INPUTS[workload] for t in ts])
        finally:
            con.close()
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(d)
    return stats.median(times), fp


def load_pins():
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def check_inputs(raw, pins, workload, seed):
    """Refuse a run whose generated inputs differ from the pinned ones."""
    want = pins["inputs"][workload]
    got = raw["inputs"]
    rows = {t: v["rows"] for t, v in got.items()}
    if rows != want["rows"]:
        fail(f"inputs changed: rows {rows} != pinned {want['rows']}", 3)
    digests = want["digests"].get(str(seed))
    if digests is not None and digests != {t: v["digest"] for t, v in got.items()}:
        fail(f"inputs changed for seed {seed}: content digest differs from the pin", 3)


def failures(raw, out, pins):
    """Ids of the timed operations that threw or gave a wrong result."""
    ops = raw["ops"]
    warm = {o["name"]: o for o in ops if o["pass"] == 0}
    timed = [o for o in ops if o["pass"] > 0]
    bad = {o["id"] for o in timed if not o["ok"]}
    for c in raw["checks"]:
        if not c["ok"]:
            bad.update(c["failed_ops"])
    wrong_names = {n for n, o in warm.items() if not o["ok"]}
    oracle_dir = os.path.join(out, "oracle")
    if os.path.isdir(oracle_dir):
        verdicts = oracle.check_dir(oracle_dir, os.path.join(out, "data"),
                                    os.path.join(out, "tmp"))
        for q, reason in verdicts.items():
            if reason is not None:
                print(f"perfbench: {q} differs from the oracle: {reason}", file=sys.stderr)
                wrong_names.add(q)
    pinned = pins.get("survivors", {}).get(raw["workload"], {}).get(str(raw["seed"]))
    if pinned is not None:
        for name, want in pinned.items():
            if name in warm and warm[name].get("survivors") != want:
                print(f"perfbench: {name} survivors {warm[name].get('survivors')} "
                      f"!= pinned {want}", file=sys.stderr)
                wrong_names.add(name)
    for o in timed:
        w = warm.get(o["name"])
        if o["name"] in wrong_names or w is None or o["digest"] != w["digest"]:
            bad.add(o["id"])
    return bad, timed


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    s = raw["setup"]
    return {
        "setup_s": (s["gen_s"] + (s["first_timed_ms"] - s["launch_ms"]) / 1000, "s"),
        "wall_s": (stats.median([(p["end_ms"] - p["start_ms"]) / 1000 for p in passes]), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
    }


def self_times(spans_path):
    """Per-pass self time of each span kind: its length minus the part of
    it its children cover."""
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    by_id = {sp["id"]: sp for sp in spans}

    def pass_of(sp):
        while sp is not None and sp["kind"] != "pass":
            sp = by_id.get(sp["parent"])
        return sp["id"] if sp else None

    totals = {}
    for sp in spans:
        if sp["kind"] == "workload":
            continue
        own = pass_of(sp)
        s, e = sp["start_ms"], sp["end_ms"]
        covered = stats.union_length(stats.clip(
            [(k["start_ms"], k["end_ms"]) for k in kids.get(sp["id"], [])], s, e))
        totals.setdefault(sp["kind"], {}).setdefault(own, 0.0)
        totals[sp["kind"]][own] += max(0.0, (e - s) - covered) / 1000
    return {k: stats.median(list(v.values())) for k, v in totals.items()}


def per_layer(raw, trace, spans_path, cores):
    passes = {p["idx"]: p for p in raw["passes"]}
    traced = [p for p in raw["passes"] if p["traced"]]
    tracedset = {p["idx"] for p in traced}
    wall = {p["idx"]: (p["end_ms"] - p["start_ms"]) / 1000 for p in traced}
    tasks = {t["pass"]: t["intervals"] for t in trace["tasks"]}
    per_pass = {i: {} for i in tracedset}
    keys = {"jobs": "sched.jobs", "stages": "sched.stages", "tasks": "sched.tasks",
            "failed_tasks": "exec.failed_tasks", "run_ms": "exec.run_s",
            "cpu_ns": "exec.cpu_s", "gc_ms": "exec.gc_s",
            "shuffle_write": "shuffle.write_bytes", "shuffle_read": "shuffle.read_bytes",
            "fetch_wait_ms": "shuffle.fetch_wait_s", "spill": "exec.spill_bytes",
            "input": "io.input_bytes", "output": "io.output_bytes",
            "plan_ms": "driver.plan_s", "native_nodes": "plans.native_nodes",
            "persisted_rdds": "core.checkpoint_rdds",
            "persisted_bytes": "core.checkpoint_bytes"}
    scale = {"run_ms": 1e-3, "cpu_ns": 1e-9, "gc_ms": 1e-3, "fetch_wait_ms": 1e-3,
             "plan_ms": 1e-3}
    for o in trace["ops"]:
        acc = per_pass[o["pass"]]
        for k, name in keys.items():
            acc[name] = acc.get(name, 0) + o[k] * scale.get(k, 1)
    for i, acc in per_pass.items():
        p = passes[i]
        acc["driver.no_task_s"] = stats.no_task_seconds(tasks.get(i, []), p["start_ms"], p["end_ms"])
        acc["exec.busy_frac"] = stats.busy_fraction(acc.get("exec.run_s", 0.0), wall[i], cores)
    names = sorted({k for acc in per_pass.values() for k in acc} | set(keys.values())
                   | {"driver.no_task_s", "exec.busy_frac"})
    m = {n: stats.median([acc.get(n, 0) for acc in per_pass.values()]) for n in names}

    # operator groups, over the traced passes
    ops = [o for o in raw["ops"] if o["pass"] in tracedset]
    jobs_by_op = {o["id"]: o["jobs"] for o in trace["ops"]}

    def op_median(pred, value):
        vals = {}
        for o in ops:
            if pred(o["name"]):
                vals[o["pass"]] = vals.get(o["pass"], 0) + value(o)
        return stats.median(list(vals.values())) if vals else 0.0

    dur = lambda o: (o["end_ms"] - o["start_ms"]) / 1000  # noqa: E731
    for g in GRAPH_OPS:
        m[f"graph.{g}_s"] = op_median(lambda n, g=g: n == f"graph_{g}", dur)
        m[f"graph.{g}.jobs"] = op_median(lambda n, g=g: n == f"graph_{g}",
                                         lambda o: jobs_by_op.get(o["id"], 0))
    for stage, key in LLM_STAGES.items():
        m[f"llm.{key}_s"] = op_median(lambda n, s=stage: n == s, dur)
        m[f"llm.{key}_survivors"] = op_median(lambda n, s=stage: n == s,
                                              lambda o: o.get("survivors", 0))
    m["operators.relational_s"] = op_median(lambda n: re.match(r"q\d\d_", n) is not None, dur)
    for f in ML_FITS:
        m[f"ml.{f}_s"] = op_median(lambda n, f=f: n == f"ml_{f}", dur)

    # streaming progress of the traced passes' triggers
    prog = [p for p in raw.get("stream_progress", []) if p["pass"] in tracedset]
    for probe in ("neardup", "sessionize"):
        xs = [p["trigger_ms"] for p in prog if p["probe"] == probe]
        m[f"streaming.{probe}.trigger_ms"] = stats.median(xs) if xs else 0
    for k in ("plan_ms", "addbatch_ms", "commit_ms"):
        m[f"streaming.{k}"] = stats.median([p[k] for p in prog]) if prog else 0
    for k in ("state_rows", "state_bytes"):
        xs = [p[k] for p in prog if p["probe"] == "sessionize"]
        m[f"streaming.{k}"] = stats.median(xs) if xs else 0

    st = self_times(spans_path)
    for kind in ("pass", "op", "job", "stage"):
        m[f"self.{kind}_s"] = st.get(kind, 0.0)
    m["jvm.live_heap_mb"] = raw["live_heap_mb"]
    m["trace.pass_wall_s"] = stats.median(list(wall.values()))
    m["trace.passes"] = len(traced)
    return m


GRAPH_OPS = ["pagerank", "bfs"]
LLM_STAGES = {"curate": "curate", "bloom_decontam": "bloom", "semdedup": "semdedup",
              "split_export": "export"}
ML_FITS = ["logreg"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        gen_s, inputs = generate(a.workload, a.seed, out)
        launch = time.time()
        run_jvm(classes, jars, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                out, str(cores)], out)
        with open(os.path.join(out, "raw.json")) as f:
            raw = json.load(f)
        raw["inputs"] = inputs
        raw["setup"]["gen_s"] = gen_s
        raw["setup"]["launch_ms"] = launch * 1000
        pins = load_pins()
        check_inputs(raw, pins, a.workload, a.seed)
        bad, timed = failures(raw, out, pins)
        if a.trace:
            with open(os.path.join(out, "trace.json")) as f:
                tr = json.load(f)
            layer = per_layer(raw, tr, os.path.join(out, "spans.jsonl"), cores)
            metrics = {k: {"value": v, "unit": UNITS.get(k, unit_of(k))}
                       for k, v in layer.items() if k in PER_LAYER}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(raw).items()}
        result = {"correct": not bad, "attempted": len(timed), "failed": len(bad),
                  "metrics": metrics}
    finally:
        if not a.keep:
            shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(result))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


UNITS = {"exec.busy_frac": "fraction"}


def per_layer_names():
    names = ["sched.jobs", "sched.stages", "sched.tasks", "driver.no_task_s",
             "driver.plan_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
             "exec.busy_frac", "exec.failed_tasks", "shuffle.write_bytes",
             "shuffle.read_bytes", "shuffle.fetch_wait_s", "exec.spill_bytes",
             "io.input_bytes", "io.output_bytes", "core.checkpoint_rdds",
             "core.checkpoint_bytes", "plans.native_nodes", "jvm.live_heap_mb"]
    for g in GRAPH_OPS:
        names += [f"graph.{g}_s", f"graph.{g}.jobs"]
    for key in LLM_STAGES.values():
        names += [f"llm.{key}_s", f"llm.{key}_survivors"]
    names.append("operators.relational_s")
    names += [f"ml.{f}_s" for f in ML_FITS]
    names += ["streaming.neardup.trigger_ms", "streaming.sessionize.trigger_ms",
              "streaming.plan_ms", "streaming.addbatch_ms", "streaming.commit_ms",
              "streaming.state_rows", "streaming.state_bytes"]
    names += ["self.pass_s", "self.op_s", "self.job_s", "self.stage_s",
              "trace.pass_wall_s", "trace.passes"]
    return names


PER_LAYER = per_layer_names()


if __name__ == "__main__":
    main()
