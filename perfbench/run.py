#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, one JVM, one GraftSession.local
session, one client thread.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the
library (src/main/scala) and the JVM runner (perfbench/scala) with the Scala
compiler shipped in the Spark distribution, into .bench_build (or
$CARGO_TARGET_DIR); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under .bench_build/run.

Prints every metric by name with its unit and sample count, checks the
outputs (DuckDB oracle for entries, an in-memory model for messages_rw),
and ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones from Spark's listeners. Exits non-zero,
without a result line, when the build or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_children = []


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run a child process to completion, killing it on timeout or on our
    own termination; returns its exit code."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _children.remove(p)


def _on_term(signum, frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


# ---- build ----

def jars_dir(root):
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt's
    `unmanagedBase` names (the jars the sbt build compiles against)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("no Spark jars: set SPARK_HOME or run from a graft checkout")
    return m.group(1)


def build(root, out):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    drv = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not lib:
        raise SystemExit("no library sources under src/main/scala: run from a graft checkout")
    h = hashlib.sha256()
    for f in lib + drv:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(out, f"classes-{digest}")
    if os.path.exists(os.path.join(classes, "OK")):
        return classes, digest
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    cp = sorted(glob.glob(os.path.join(jars_dir(root), "*.jar")))
    if not cp:
        raise SystemExit(f"no Spark jars under {jars_dir(root)}")
    compiler = [p for p in cp if os.path.basename(p).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    t0 = time.time()
    for name, srcs, extra in (("lib", lib, []), ("bench", drv, [os.path.join(classes, "lib")])):
        dst = os.path.join(classes, name)
        os.makedirs(dst, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
               "-classpath", ":".join(extra + cp), "-d", dst] + srcs
        rc = run_child(cmd, 800)
        if rc != 0:
            raise SystemExit(f"compiling {name} failed ({rc})")
    open(os.path.join(classes, "OK"), "w").close()
    log(f"built {len(lib)} library + {len(drv)} runner sources in {time.time() - t0:.1f} s")
    return classes, digest


# ---- facts ----

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def commit(root, digest):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source-sha256:{digest}"


# ---- one run ----

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_term)

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, digest = build(root, out)
    load_before = loadavg()

    run_dir = os.path.join(out, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
    for d in (data, work, tmp):
        os.makedirs(d)
    try:
        result = execute(args, classes, jars_dir(root), run_dir, data, work, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["facts"].update({
        "nproc": nproc(), "commit": commit(root, digest),
        "loadavg_before_run": load_before, "loadavg_after_run": loadavg(),
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    })
    report(args, result, os.path.join(out, "results"))


def execute(args, classes, jar_dir, run_dir, data, work, tmp):
    # messages_rw reads none of the tables; region serves the warm-up scan
    # and documents the traced run's text-kernel measurements
    tables = ["region", "documents"] if args.workload == "messages_rw" else None
    datagen.generate(data, args.seed, 0.1, tables)
    script_text = workloads.script(args.workload, args.seed)
    script = os.path.join(run_dir, "script.tsv")
    with open(script, "w") as f:
        f.write(script_text)
    res_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(tmp, "local"),
        "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(tmp, "stream"),
        "SPARK_GRAFT_STREAM_DATA": os.path.join(tmp, "stream-data"),
    })
    for k in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_STREAM_SCRATCH", "SPARK_GRAFT_STREAM_DATA"):
        os.makedirs(env[k], exist_ok=True)
    n = nproc()
    # a fixed heap limit and no pre-touch: memory figures follow the program
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([os.path.join(classes, "lib"), os.path.join(classes, "bench"),
                               os.path.join(jar_dir, "*")]),
              "graftbench.Main", f"workload={args.workload}", f"seed={args.seed}",
              f"seconds={args.seconds}", f"trace={args.trace}", f"nproc={n}",
              f"data={data}", f"work={work}", f"script={script}", f"out={res_path}",
              "check=" + ",".join(workloads.check_names(args.workload))])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        rc = run_child(cmd, JVM_TIMEOUT_S, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
    if rc != 0 or not os.path.exists(res_path):
        with open(log_path, errors="replace") as lf:
            lines = lf.readlines()
        log("".join([l for l in lines if "Exception" in l][:5] + lines[-30:]))
        raise SystemExit(f"JVM run failed ({rc})")
    with open(res_path) as f:
        r = json.load(f)

    blocks = workloads.parse(script_text)
    ran = r["ops"]
    wrong = set(i for i, op in enumerate(ran) if not op["ok"])
    reasons = [f"op {op['i']} {op['name']}: {op.get('err', '')}" for op in ran if not op["ok"]]
    if args.workload == "messages_rw":
        flat = [op for b in blocks[1:] for op in b][:len(ran)]
        ops = [{"code": c, "args": a, "ok": rec["ok"], "rows": rec.get("rows", [])}
               for (c, a), rec in zip(flat, ran)]
        for (c, a), rec in zip(flat, ran):
            rec["payload_bytes"] = workloads.payload_bytes(c, a)
        bad, model = workloads.check_messages(blocks[0], ops)
        for i, why in bad:
            wrong.add(i)
            reasons.append(f"op {i}: {why}")
        r["store"]["live_bytes"] = model.live_bytes()
        checks = len([o for o in ops if o["code"] in workloads.READS])
    else:
        bad = oracle.check(data, os.path.join(work, "check"), r["checked"], r["oracle_sql"])
        for i, op in enumerate(ran):
            if op["name"] in bad:
                wrong.add(i)
        reasons += [f"{k}: {v}" for k, v in sorted(bad.items())]
        checks = len(r["checked"])
    n_passes = 1 + r["warm_passes"]
    r["facts"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "op_counts": workloads.counts(blocks[1:1 + n_passes]),
        "java": r["java_version"], "spark": r["spark_version"],
        "loadavg_before_jvm": r["loadavg_before"], "loadavg_after_timed": r["loadavg_after"],
        "conf": r["conf"], "checks": checks, "rss_peak_mb": r["rss_peak_mb"],
    }
    r["wrong"] = sorted(wrong)
    r["reasons"] = reasons
    return r


def report(args, r, results_dir):
    e2e, per_layer = layers.metrics(r)
    correct = not r["wrong"] and r["facts"]["checks"] > 0
    for why in r["reasons"][:20]:
        print(f"check failed: {why}")
    print("facts " + json.dumps(r["facts"], sort_keys=True))
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(r['ops'])} warm_passes={r['warm_passes']} correct={correct} "
          f"setup={r['setup_s']:.2f}s first_pass={r['first_pass_s']:.2f}s "
          f"warm={r['warm_wall_s']:.2f}s check={r['check_s']:.2f}s")
    for kind in sorted({o["name"] for o in r["ops"]}):
        xs = [o["lat_ms"] for o in r["ops"] if o["name"] == kind]
        print(f"op    {kind:<28} n={len(xs):<4} first={xs[0]:>9.1f} ms  "
              f"median={stats.median(xs):>9.1f} ms  max={max(xs):>9.1f} ms")
    # the workload-specific user-facing figures are per-layer entries of
    # BENCHMARK.json (which wants end-to-end ones on every workload and
    # never 0) but are printed by every run, marked "e2e*"
    shown = layers.workload_metrics(r)
    for tag, group in (("e2e  ", e2e), ("e2e* ", shown)):
        for name, m in group.items():
            tail = (f"  (ten samples beyond: p{stats.supported_percentile(m['n'])} and below)"
                    if name.startswith("lat_") else (f"  ({m['note']})" if m.get("note") else ""))
            print(f"{tag} {name:<28} {m['value']:>14.6g} {m['unit']:<8} n={m['n']}{tail}")
    if args.trace:
        for name, m in per_layer.items():
            if name not in shown:
                print(f"layer {name:<28} {m['value']:>14.6g} {m['unit']:<8} n={m['n']}"
                      + (f"  ({m['note']})" if m.get("note") else ""))
        for name, v in layers.first_pass_view(r).items():
            print(f"first-pass {name:<23} {v:>14.6g}")
    os.makedirs(results_dir, exist_ok=True)
    mine = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        other = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(other):
            with open(other) as f:
                base = json.load(f)["e2e"]
            for name, m in e2e.items():
                b = base.get(name, {}).get("value")
                if b:
                    print(f"trace-overhead {name:<22} {m['value'] - b:>+14.6g} {m['unit']:<8}"
                          f" ({(m['value'] - b) / b:+.1%} vs untraced run of this seed)")
        else:
            print("trace-overhead unavailable: no untraced run of this workload and seed "
                  "in .bench_build/results")
    with open(mine, "w") as f:
        json.dump({"facts": r["facts"], "e2e": e2e, "per_layer": per_layer,
                   "correct": correct,
                   "ops": [[o["pass"], o["name"], o["lat_ms"]] for o in r["ops"]]},
                  f, indent=1, sort_keys=True)
    metrics = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": correct, "attempted": len(r["ops"]), "failed": len(r["wrong"]),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
