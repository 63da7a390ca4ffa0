#!/usr/bin/env python3
"""perfbench: closed-loop benchmark of graft, one workload per command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The command
  1. compiles src/main/scala and perfbench/driver with scalac (cached
     under .bench_build/classes by a hash of the sources),
  2. generates the workload's inputs from the seed (gen.py),
  3. runs one JVM (perfbench/driver/Driver.scala) on local[nproc] with a
     single client: one set-up, then whole timed passes for --seconds,
  4. checks every result outside the timed region (check.py),
  5. prints each metric by name and unit, then one JSON line.

With --trace 0 the JSON carries the end-to-end metrics; with --trace 1
it carries the per-layer metrics of a run whose passes alternate
between traced and untraced. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = {
    "medallion": [],
    "queries": ["q5_multi_join", "stream_window_agg", "graph_degree_audit",
                "dedup_minhash", "knn_pq_serve", "knn_ivfpq_serve"],
}
# modules whose busy time is reported (every module a workload key is in)
MODULES = ["operators.Relational", "streaming.Streaming", "operators.Graph",
           "operators.Dedup", "operators.Similarity"]
HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
MAIN = "org.apache.spark.perfbench.Driver"


class BenchError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on
    PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BenchError("Spark jars not found; set SPARK_HOME")


def sources(root, sub, ext=".scala"):
    out = []
    for d, _, files in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-cp", ":".join([f"{jars}/*"] + classpath), "-d", dest] + files
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BenchError("scalac failed:\n" + (p.stdout + p.stderr)[-3000:])


def _digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        h.update(open(f, "rb").read())
    return h.hexdigest()[:20]


def _compiled(dest, compile_into):
    """Runs compile_into(tmp) unless `dest` holds a finished build."""
    if not os.path.exists(os.path.join(dest, "OK")):
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        compile_into(tmp)
        open(os.path.join(tmp, "OK"), "w").close()
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
    return dest


def build(root, area):
    """Compiles graft and the driver, each cached by a hash of its
    sources; returns their class directories."""
    graft = sources(root, "src/main/scala")
    driver = sources(root, "perfbench/driver")
    if not graft:
        raise BenchError("no Scala sources under src/main/scala")
    jars = spark_jars()
    gh = _digest(root, graft)

    def graft_into(tmp):
        scalac(jars, [], tmp, graft)
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)

    gdir = _compiled(os.path.join(area, "classes", f"graft-{gh}"), graft_into)
    ddir = _compiled(
        os.path.join(area, "classes", f"driver-{gh}-{_digest(root, driver)}"),
        lambda tmp: scalac(jars, [gdir], tmp, driver))
    return [ddir, gdir]


def jvm(classes, args, cwd, env_extra, log, timeout=JVM_TIMEOUT_S):
    jars = spark_jars()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in
              ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}",
              "-cp", ":".join(classes + [f"{jars}/*"]), MAIN] + args)
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    env = dict(os.environ, **env_extra)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM exceeded {timeout}s")
    if p.returncode != 0:
        tail = open(log, errors="replace").read()[-3000:]
        raise BenchError(f"JVM exited {p.returncode}:\n{tail}")
    return out


def modules_of(classes, area):
    """{module: [keys]} of the public queries maps."""
    d = os.path.join(area, "modules")
    os.makedirs(d, exist_ok=True)
    out = jvm(classes, ["modules"], d, {}, os.path.join(d, "jvm.log"))
    return json.loads(out.strip().splitlines()[-1])


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def nproc():
    return len(os.sched_getaffinity(0))


def run(args, root):
    area = os.path.join(root, ".bench_build")
    runs = os.path.join(area, "runs")
    # no run reuses state a previous run left behind
    shutil.rmtree(runs, ignore_errors=True)
    classes = build(root, area)
    import check  # reuses scripts/localcheck.py from the checkout
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    rd = os.path.join(runs, name)
    inputs = os.path.join(rd, "input")
    t0 = time.time()
    expected = gen.generate(args.workload, args.seed, inputs)
    t_gen = time.time() - t0
    cpus = nproc()
    keys = WORKLOADS[args.workload]
    load_before = loadavg()
    env = {"SPARK_GRAFT_TMP": os.path.join(rd, "graft_tmp"),
           "SPARK_LOCAL_DIRS": os.path.join(rd, "local"),
           "SPARK_GRAFT_CPUS": str(cpus)}
    t1 = time.time()
    jvm(classes, ["run", args.workload, inputs, rd, str(args.seconds),
                  str(args.trace)] + keys, rd, env,
        os.path.join(rd, "jvm.log"))
    load_after = loadavg()
    t_jvm = time.time() - t1
    res = json.load(open(os.path.join(rd, "result.json")))
    records = [json.loads(x) for x in
               open(os.path.join(rd, "spans.jsonl")) if x.strip()]

    # -- correctness, outside the timed region
    out_dir = os.path.join(rd, "out")
    if args.workload == "medallion":
        wrong = check.medallion(out_dir, expected, res["audit"])
    else:
        wrong = check.oracle(out_dir, inputs, res["oracle_sql"], keys)
    wrong = {k: v for k, v in wrong.items() if v}
    t_check = time.time() - t1 - t_jvm

    timed = [r for r in records if r["kind"] == "op" and r["phase"] == "timed"]
    plain = {p["pass"] for p in res["passes"] if not p["traced"]}
    lat = [(r["end"] - r["start"]) / 1e3 for r in timed if r["pass"] in plain]
    errored = {r["op"]: r["error"] for r in records
               if r["kind"] == "op" and not r["ok"]}
    failed = sum(1 for r in timed
                 if not r["ok"] or r["op"] in wrong or r["op"] in errored)
    attempted = len(timed)
    tail, tail_pct, n_lat = layers.tail_percentile(lat)
    plain_passes = [p["seconds"] for p in res["passes"] if not p["traced"]]
    e2e = {
        "pass_s": (layers.median(plain_passes), "s"),
        "op_p50_s": (layers.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "fail_frac": (failed / attempted, "fraction"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
        "write_amp": (res["wchar_timed"] / len(res["passes"])
                      / expected["input_bytes"], "ratio"),
    }
    files_written = 0
    if args.workload == "medallion":
        for d, _, fs in os.walk(out_dir):
            files_written += sum(1 for f in fs if not f.startswith("."))
    # every workload reports the same metric names; a layer it never
    # enters reads 0
    all_keys = [k for ks in WORKLOADS.values() for k in ks]
    trace = layers.per_layer(records, res["passes"], all_keys, MODULES, cpus,
                             files_written)
    for k in res["kernels"]:
        trace[f"functions.{k['name']}.rows_per_s"] = k["rows"] / k["seconds"]
    for k in layers.KERNELS:
        trace.setdefault(f"functions.{k}.rows_per_s", 0.0)

    host = {"nproc": cpus, "local": f"local[{res['cpus']}]",
            "driver_heap_mb": res["heap_max_mb"],
            "loadavg_before": load_before, "loadavg_after": load_after}
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "input_sha256": expected["input_sha256"],
              "input_bytes": expected["input_bytes"], "gen_s": t_gen,
              "jvm_s": t_jvm, "check_s": t_check,
              "keys": keys, "modules": {o["name"]: o["module"]
                                        for o in res["ops"]},
              "op_tail_percentile": tail_pct, "op_samples": n_lat,
              "passes": res["passes"],
              "op_seconds": [[r["phase"], r["pass"], r["op"],
                              (r["end"] - r["start"]) / 1e3]
                             for r in records if r["kind"] == "op"],
              "wrong": wrong, "errors": errored,
              "end_to_end": {k: v[0] for k, v in e2e.items()},
              "per_layer": trace}
    os.makedirs(os.path.join(area, "reports"), exist_ok=True)
    with open(os.path.join(area, "reports", name + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        with open(os.path.join(area, "reports", name + ".spans.json"), "w") as f:
            json.dump(layers.span_tree(records), f)

    print(f"workload {args.workload} seed {args.seed} input "
          f"{expected['input_bytes']} bytes sha256 {expected['input_sha256']}")
    print(f"host nproc {cpus} local[{res['cpus']}] driver heap "
          f"{res['heap_max_mb']} MB loadavg before {load_before} "
          f"after {load_after}")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"op_tail_s is p{tail_pct:.1f} of {n_lat} op samples; "
          f"{len(plain_passes)} untraced passes")
    for k, v in sorted({**wrong, **errored}.items()):
        print(f"FAILED {k}: {v}")
    if args.trace:
        for k, v in sorted(trace.items()):
            print(f"{k} {v:.6g}")
    shutil.rmtree(rd, ignore_errors=True)

    metrics = ({k: {"value": v, "unit": layers.unit_of(k)}
                for k, v in trace.items()} if args.trace else
               {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                if k != "fail_frac"})
    print(json.dumps({"correct": not wrong and not errored,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not wrong and not errored else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args, os.getcwd())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
