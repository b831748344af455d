#!/usr/bin/env python3
"""graft benchmark: builds the tree it sits in, runs one workload in its
own JVM, checks every output against independent computations, and
prints one JSON result line last.

    python3 perfbench/run.py --workload capture_scan --seed 1 \\
        --seconds 10 --trace 0

Workloads: capture_scan, corpus_pipeline, archive_roundtrip (see
README.md). `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics, span file and tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
HARNESS = os.path.join(HERE, "harness")
CORPUS_VARIANTS = 4
CORPUS_SCALE = 0.5

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

CORPUS_QUERIES = [
    ("q03_revenue_by_nation", "relational"),
    ("dedup_minhash_lsh", "dedup"),
    ("dedup_components", "dedup"),
    ("mm_dhash_components", "dedup"),
    ("sim_cosine_topk", "similarity"),
    ("sim_ann_ivfpq", "similarity"),
    ("text_repeat_spans", "text"),
    ("pipeline_pagerank", "graph"),
    ("pipeline_lpa_communities", "graph"),
    ("pipeline_graph_kcore", "graph"),
]
# the capture_scan capture set (about 36 MB)
CAPTURES = dict(n_files=8, n_dns=24000, flows_per_file=3, segs_per_flow=600,
                seconds=60)
WORKLOADS = ("capture_scan", "corpus_pipeline", "archive_roundtrip")


def log(*a):
    print("[perfbench]", *a, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    """md5 over every input of the build, so an edited tree rebuilds."""
    h = hashlib.md5()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for dp, dn, fn in os.walk(base):
            dn[:] = sorted(d for d in dn if d != "target")
            files += [os.path.join(dp, f) for f in sorted(fn)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=%s "
                       "-Dsbt.offline=true -Xmx2g" % os.path.expanduser(
                           "~/.sbt/repositories"))
    return env


def build():
    """Compiles graft and the harness (once per source stamp); returns the
    runtime classpath."""
    stamp = source_stamp()
    bdir = os.path.join(STATE, "build")
    cpf = os.path.join(bdir, "classpath")
    sf = os.path.join(bdir, "stamp")
    if os.path.exists(cpf) and os.path.exists(sf) and \
            open(sf).read() == stamp:
        return open(cpf).read()
    os.makedirs(bdir, exist_ok=True)
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cpf, "w") as f:
        f.write(cp)
    with open(sf, "w") as f:
        f.write(stamp)
    log("build took %.1f s" % (time.time() - t0))
    return cp


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return "%dm" % max(1024, min(3072, kb // 1024 // 4))
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/" + p for p in (
        "java.lang java.lang.invoke java.lang.reflect java.io java.net "
        "java.nio java.util java.util.concurrent "
        "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
        "sun.security.action sun.util.calendar").split()]
    h = heap()
    cmd = ["java", "-Xms" + h, "-Xmx" + h, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp] + args
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        with open(logf) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit("harness JVM exited with %d" % rc)
    return h


# ----------------------------------------------------------------- inputs

def corpus_fingerprints(d):
    return {t: gen.table_fingerprint([os.path.join(d, t + ".parquet")])
            for t in oracle.TABLES
            if os.path.exists(os.path.join(d, t + ".parquet"))}


def make_inputs(workload, seed, trace):
    """Generates (or reuses) the seeded inputs; returns the params the
    harness reads."""
    d = os.path.join(STATE, "inputs", workload)
    done = os.path.join(d, "DONE")
    tag = "%s seed=%d gen=%d" % (workload, seed, gen.GEN_VERSION)
    fresh = not (os.path.exists(done) and open(done).read() == tag)
    if fresh:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cap = os.path.join(d, "captures")
    params = {}
    secs = CAPTURES["seconds"]
    # a window over file 2 and the first part of file 3
    window = [gen.T0 + 2 * secs + 7, gen.T0 + 3 * secs + 23]
    if workload in ("capture_scan", "archive_roundtrip"):
        if fresh:
            if workload == "capture_scan":
                gen.captures(cap, seed, **CAPTURES)
            else:
                gen.captures(cap, seed, n_files=4, n_dns=12000,
                             flows_per_file=1, segs_per_flow=200,
                             seconds=secs)
        params["captures"] = cap
        params["window"] = window
        params["five_tuple"] = {"src": "10.1.3.2", "dst": "172.16.0.2",
                                "sport": 30301, "dport": 443}
    if workload == "archive_roundtrip":
        params["carve"] = [gen.T0 + secs // 2, gen.T0 + 3 * secs + 40]
        docs = os.path.join(d, "docs")
        zdir = os.path.join(d, "zip")
        if fresh:
            gen.documents(docs, seed, 500)
            gen.zip_archives(zdir, seed)
        params["documents"] = os.path.join(docs, "documents.parquet")
        params["zip"] = zdir
    if workload == "corpus_pipeline":
        cd = os.path.join(d, "corpus")
        if fresh:
            gen.corpus(cd, seed, variants=CORPUS_VARIANTS,
                       scale=CORPUS_SCALE)
        params["corpus"] = cd
        params["queries"] = [{"name": n, "family": f}
                             for n, f in CORPUS_QUERIES]
    if trace:
        # layer probes: a capture set of the capture_scan size (that
        # workload's own files), 5000 documents, 12 zip archives
        pd = os.path.join(d, "probe")
        if fresh or not os.path.exists(os.path.join(pd, "DONE")):
            shutil.rmtree(pd, ignore_errors=True)
            if workload != "capture_scan":
                gen.captures(os.path.join(pd, "captures"), seed, **CAPTURES)
            gen.documents(os.path.join(pd, "docs"), seed, 5000)
            gen.zip_archives(os.path.join(pd, "zip"), seed, n=12)
            open(os.path.join(pd, "DONE"), "w").close()
        params["probe"] = {
            "captures": cap if workload == "capture_scan"
            else os.path.join(pd, "captures"),
            "documents": os.path.join(pd, "docs", "documents.parquet"),
            "zip": os.path.join(pd, "zip"),
            "window": window,
            # graft.Bench's decode input, the same for every seed; the
            # harness makes it with graft's PcapSynth on first use
            "reference": os.path.join(STATE, "inputs", "reference")}
    if fresh:
        with open(done, "w") as f:
            f.write(tag)
    return params


# ------------------------------------------------------------------ check

def check(workload, res, params, work):
    """Problems with the run's outputs (empty = every output correct)."""
    bad = []
    checks = res["checks"]
    if workload == "capture_scan":
        want = oracle.capture_expected(params["captures"], params["window"],
                                       params["five_tuple"])
        for name, rows in want.items():
            if not oracle.same_rows(checks.get(name, []), rows):
                bad.append("%s: got %s want %s" % (
                    name, json.dumps(checks.get(name))[:300],
                    json.dumps(rows)[:300]))
    elif workload == "corpus_pipeline":
        fps = corpus_fingerprints(params["corpus"])
        con = oracle.duck(params["corpus"])
        for name, sql in res["oracle_sql"].items():
            got = oracle.spark_rows(os.path.join(work, "check", name))
            want = oracle.corpus_expected(name, sql, fps,
                                          os.path.join(STATE, "cache"), con)
            if got != want:
                bad.append("%s: %d rows vs oracle %d rows (cols %s / %s)" % (
                    name, len(got["rows"]), len(want["rows"]), got["cols"],
                    want["cols"]))
        missing = [n for n, _ in CORPUS_QUERIES if n not in res["oracle_sql"]]
        if missing:
            bad.append("no oracle for %s" % missing)
    else:
        bad += oracle.archive_check(res, params, os.path.join(work, "sinks"))
    return bad


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def step_median(s):
    """A step's median wall time over its timed passes; a step without a
    sample (it failed on every timed pass) has no time, not a zero one."""
    if not s["wall_s"]:
        raise ValueError("step %s has no timed sample" % s["name"])
    return statistics.median(s["wall_s"])


def family_metrics(res):
    """The workload-level figures of each step family (0 where the
    workload has no such family)."""
    steps = res["steps"]

    def fam(f):
        return [s for s in steps if s["family"] == f]

    def wall(f):
        return sum(step_median(s) for s in fam(f))

    def rate(f, key):
        w = wall(f)
        return sum(s[key] for s in fam(f)) / 1e6 / w if w else 0.0

    return {
        "decode_mb_s": rate("decode", "bytes_in"),
        "pruned_scan_s": wall("pruned_scan"),
        "flow_s": wall("flow"),
        "relational_s": wall("relational"),
        "dedup_s": wall("dedup"),
        "similarity_s": wall("similarity"),
        "graph_s": wall("graph"),
        "text_s": wall("text"),
        "write_mb_s": rate("write", "bytes_out"),
        "archive_scan_mb_s": rate("archive_scan", "bytes_in"),
        "stored_mb": sum(s["bytes_out"] for s in fam("write")) / 1e6,
    }


def pass_time(res):
    """One full pass: the sum over the steps of each step's median wall
    time, so one slow step in one pass moves the figure less than it moves
    that pass's own wall time."""
    return sum(step_median(s) for s in res["steps"])


def cpu_ticks():
    try:
        with open("/proc/stat") as f:
            v = f.readline().split()
        return int(v[1]) + int(v[2]), int(v[8]) if len(v) > 8 else 0
    except (OSError, ValueError, IndexError):
        return -1, -1


def commit():
    """HEAD of the checkout, or None outside a git work tree of its own."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        print("perfbench: no graft source tree at %s" % ROOT,
              file=sys.stderr)
        sys.exit(2)
    cp = build()
    params = make_inputs(a.workload, a.seed, a.trace == 1)
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    u0, s0 = cpu_ticks()
    heap_size = java(cp, [
        "graft.perfbench.Harness", "--workload", a.workload,
        "--params", os.path.join(work, "params.json"), "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--out", out],
        work)
    u1, s1 = cpu_ticks()
    with open(out) as f:
        res = json.load(f)
    bad = check(a.workload, res, params, work)
    attempted = sum(s["attempted"] for s in res["steps"])
    failed = sum(s["failed"] for s in res["steps"])

    log("workload %s seed %d: steps attempted %d, failed %d" % (
        a.workload, a.seed, attempted, failed))
    for s in res["steps"]:
        log("  %-26s %-12s attempted %3d failed %d median %.4f s" % (
            s["name"], s["family"], s["attempted"], s["failed"],
            med(s["wall_s"])))
    for e in res["errors"]:
        log("  error:", e)
    log("cores %d, heap %s, commit %s, tree %s, seeds: input %d corpus "
        "variant %d" % (cores, heap_size, commit(), source_stamp()[:12],
                        a.seed, a.seed % CORPUS_VARIANTS))
    log("host ticks over the run: user %d, steal %d" % (u1 - u0, s1 - s0))
    log("setup rounds %s s, %d timed passes" % (
        ["%.3f" % x for x in res["setup_s"]], len(res["pass_s"])))
    for b in bad:
        log("CHECK FAILED:", b)
    if bad or failed:
        # a failed step or a wrong output leaves the timings meaningless (a
        # step that failed would make a pass look faster): no metrics
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        sys.exit(1)

    if a.trace == 0:
        metrics = {
            "setup_s": {"value": med(res["setup_s"]), "unit": "s"},
            "pass_s": {"value": pass_time(res), "unit": "s"},
        }
    else:
        layer = dict(res["layer"])
        layer.update(family_metrics(res))
        base, traced = med(res["pass_s"]), med(res["traced_pass_s"])
        layer["trace.overhead_pct"] = 100.0 * (traced / base - 1) \
            if base else 0.0
        layer["trace.spans"] = res["spans"]["count"]
        log("spans: %d written to %s; tracing overhead %.1f%% (median pass "
            "%.4f s traced vs %.4f s untraced)" % (
                res["spans"]["count"], res["spans"]["file"],
                layer["trace.overhead_pct"], traced, base))
        log("parallel efficiency bases: sources.pcap.scan_mb_s %.1f, "
            "pcap.dns_read_mb_s %.1f, cores %d" % (
                layer["sources.pcap.scan_mb_s"], layer["pcap.dns_read_mb_s"],
                cores))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        if a.workload not in [w["name"] for w in bench["workloads"]]:
            # a workload outside the benchmark's gate (corpus_pipeline)
            # also reports its own operator families
            units.update({k: "count" if k.endswith(("stages", "jobs"))
                          else "MB" if k.endswith("_mb") else "s"
                          for k in layer if k not in units})
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in units.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
