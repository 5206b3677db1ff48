#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics|lakehouse_dml \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark with sbt and trains the JVM's class-data sharing archive;
later runs reuse both while no source changed.
The inputs are generated from the seed, the engine runs in one JVM, the
outputs are checked, and the last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics named in BENCHMARK.json, with
--trace 1 the per-layer ones, and a span file is left under
perfbench/work/runs/. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

# Input sizes per workload: base scale factor of the generated fixture
# tables and the key-shifted replication factor applied on top.
SIZES = {
    "analytics": {"sf": 0.004, "mult": 4},
    "lakehouse_dml": {"sf": 0.02, "mult": 1},
}
HEAP = "2g"
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def java(cp, jvm_opts, tmp, cds, main_class, args):
    """The JVM command line of a benchmark or training run."""
    # a fixed heap keeps memory figures comparable between runs. C1 only:
    # with the optimising compiler on, JIT threads take about two of four
    # cores through the whole of a one-minute run, and how far they get
    # depends on what else the host runs
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", cds]
            + jvm_opts + ["-cp", cp, main_class] + args)


def jvm_env(tmp):
    # the engine's own configuration is left at its defaults
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def build():
    """Compile engine and benchmark and train the class-data sharing
    archive; return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "sources.stamp")
    stamp = sources_stamp()
    if not (os.path.exists(launch) and os.path.exists(ARCHIVE) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=600)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        train(*read_launch(launch))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return read_launch(launch)


def read_launch(launch):
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def train(cp, jvm_opts):
    """Make the class-data sharing archive every run starts from: a short
    run of each workload on small inputs, in one JVM, dumps the classes it
    loaded. A JVM that maps the archive skips most class loading, which
    halves the cold session set-up."""
    import gen
    d = os.path.join(WORK, "train")
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(d, "tmp")
    os.makedirs(tmp)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        args = []
        for w in sorted(SIZES):
            data = os.path.join(d, "data-" + w)
            gen.write(gen.replicate(gen.base_tables(0, 0.002), 2), data)
            args += [w, data, os.path.join(d, "out-" + w)]
        log_path = os.path.join(WORK, "train.log")
        with open(log_path, "w") as log:
            r = subprocess.run(java(cp, jvm_opts, tmp, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                    "perfbench.Train", args),
                               cwd=d, env=jvm_env(tmp), stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(ARCHIVE):
            sys.stderr.write(open(log_path).read()[-4000:])
            fail("training the class-data sharing archive failed")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def generate(workload, seed, data_dir, base_dir):
    import gen
    size = SIZES[workload]
    base = gen.base_tables(seed, size["sf"])
    gen.write(gen.replicate(base, size["mult"]), data_dir)
    if base_dir:
        gen.write(base, base_dir)
    return {"sf": size["sf"], "mult": size["mult"], "bytes": gen.table_bytes(data_dir)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found; run from the repository root")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    cp, jvm_opts = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    data_dir = os.path.join(WORK, "data", tag)
    base_dir = os.path.join(WORK, "data", tag + "-base") if SIZES[a.workload]["mult"] > 1 else None
    jvm_dir = os.path.join(WORK, "jvm", tag)
    out_dir = os.path.join(WORK, "runs", tag)
    for d in (data_dir, jvm_dir, out_dir) + ((base_dir,) if base_dir else ()):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(jvm_dir)
    try:
        t0 = time.time()
        inputs = generate(a.workload, a.seed, data_dir, base_dir)
        inputs["generate_s"] = time.time() - t0
        tmp = os.path.join(jvm_dir, "tmp")
        os.makedirs(tmp)
        cmd = java(cp, jvm_opts, tmp, f"-XX:SharedArchiveFile={ARCHIVE}", "perfbench.Main", [
            "--workload", a.workload, "--data", data_dir, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_dir])
        if base_dir:
            cmd += ["--base", base_dir]
        log_path = os.path.join(out_dir + ".log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        t1 = time.time()
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, cwd=jvm_dir, env=jvm_env(tmp), stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        inputs["jvm_s"] = time.time() - t1
        if r.returncode != 0 or not os.path.exists(os.path.join(out_dir, "record.json")):
            sys.stderr.write(open(log_path).read()[-4000:])
            fail(f"engine run exited with {r.returncode}")
        rec = json.load(open(os.path.join(out_dir, "record.json")))

        import check
        t2 = time.time()
        bad = check.oracle_failures(rec["checks"]) if a.workload != "lakehouse_dml" else {
            c["key"]: c["error"] for c in rec["checks"] if not c["model_ok"]}
        inputs["oracle_s"] = time.time() - t2
        execs = rec["executions"]
        attempted = len(execs)
        # a wrong output fails every execution of that statement, and a
        # lakehouse table that differs from the model every statement on it
        wrong = {k.removesuffix("_model") for k in bad}
        failed = sum(1 for e in execs if e["error"] or e["key"] in wrong or e["fmt"] in wrong)
        correct = not bad and failed == 0

        e2e = rec["end_to_end"]
        # the end-to-end figures the gate leaves out are reported per layer
        layers = dict(rec["layers"], **{k: e2e[k] for k in ("pass_s", "stmt_geomean_s",
                                                             "stmt_cpu_geomean_s")})
        layers["fail_ratio"] = failed / attempted if attempted else 1.0
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        source = layers if a.trace else e2e
        metrics = {m["name"]: {"value": float(source.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in names}

        rec["inputs"] = inputs
        rec["oracle_failures"] = bad
        with open(os.path.join(out_dir, "record.json"), "w") as f:
            json.dump(rec, f)
        print(json.dumps({"machine": rec["machine"], "inputs": inputs, "end_to_end": e2e, "passes": [
            {k: p[k] for k in ("seconds", "loadavg_start", "loadavg_end", "cpu_steal_s")}
            for p in rec["passes"]]}))
        for fl in rec["failures"]:
            print(json.dumps({"failed_statement": fl["key"], "pass": fl["pass"], "cause": fl["error"]}))
        for k, why in bad.items():
            print(json.dumps({"wrong_output": k, "cause": why}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        for d in (data_dir, jvm_dir) + ((base_dir,) if base_dir else ()):
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
