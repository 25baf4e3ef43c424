#!/usr/bin/env python3
"""graft benchmark: one command, three closed-loop workloads.

Usage, from the repo root:
  python3 perfbench/run.py --workload read_mix|ingest_batches|point_lookups \
      --seed N --seconds S --trace 0|1

Builds the library and harness from source (perfbench/build.sh, cached
under .bench_build by source hash), generates the input tables from the
seed (perfbench/datagen.py), runs the workload in one JVM, checks every
output, and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Exits non-zero when any output is wrong. See perfbench/README.md.
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
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing next to the sources
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("read_mix", "ingest_batches", "point_lookups")
# the scale factor each workload's tables are generated at; the warm
# pass always runs at the sf0.001 tier
TIER = {"read_mix": 0.01, "ingest_batches": 0.02, "point_lookups": 0.02}
WARM_TIER = 0.001
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_hash():
    """sha256 over every source file the build reads."""
    h = hashlib.sha256()
    dirs = [ROOT / "src" / "main", HERE / "src"]
    files = sorted(p for d in dirs for p in d.rglob("*") if p.is_file())
    for p in files + [HERE / "build.sh"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir, env):
    digest = source_hash()
    classes = build_dir / f"classes-{digest[:16]}"
    if not classes.is_dir():
        r = subprocess.run(["bash", str(HERE / "build.sh"), str(classes)],
                           cwd=ROOT, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=800)
        if r.returncode != 0 or not classes.is_dir():
            fail("build failed")
    return classes, digest


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def run_jvm(cmd, log, deadline):
    """Run the harness JVM in its own process group; kill the group if it
    outlives the deadline, and always wait for it to end."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=out,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # recorded only: every run does the workload's fixed op list, so two
    # versions of the code are always timed on the same ops
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    # for the self-test: a smaller tier, an op cap, a wrong result
    ap.add_argument("--sf", type=float)
    ap.add_argument("--max-ops", type=int)
    ap.add_argument("--perturb", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no src/main/scala next to perfbench/: nothing to build")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = build_dir.resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    classes, digest = build(build_dir, env)

    start = time.time()
    work = build_dir / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(a, spec, declared, env, classes, digest, work, start,
                       build_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, spec, declared, env, classes, digest, work, start, build_dir):
    import datagen
    sf = a.sf if a.sf is not None else TIER[a.workload]
    data = work / f"sf{sf:g}"
    golden = work / f"sf{WARM_TIER:g}"
    datagen.generate(str(data), a.seed, sf)
    datagen.generate(str(golden), a.seed, WARM_TIER)
    (work / "tmp").mkdir(parents=True, exist_ok=True)

    cpus = len(os.sched_getaffinity(0))
    out = work / "result.json"
    cmd = (["java"] + [x for p in OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{env['SPARK_HOME']}/jars/*",
              "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(a.trace),
              "--data", str(data), "--golden", str(golden),
              "--work", str(work), "--out", str(out),
              "--cpus", str(cpus),
              "--perturb", str(a.perturb)]
           + (["--max-ops", str(a.max_ops)] if a.max_ops else []))
    t_jvm = time.time()
    code = run_jvm(cmd, work / "jvm.log", start + RUN_LIMIT_S)
    print(f"perfbench: inputs {t_jvm - start:.1f} s, jvm {time.time() - t_jvm:.1f} s",
          file=sys.stderr)
    for line in (work / "jvm.log").read_text().splitlines():
        if line.startswith("perfbench:"):
            print(line, file=sys.stderr)
    if code != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail("harness " + ("timed out" if code is None else f"exit {code}"))
    res = json.loads(out.read_text())

    # the read_mix gate: each key's result against DuckDB's oracle SQL
    gate = list(res["gate"])
    if a.workload == "read_mix" and (work / "gate").is_dir():
        import oracle
        for key, why in oracle.compare(str(data), str(work / "gate")).items():
            gate.append({"kind": key, "reason": f"oracle: {why}"})
    print(f"perfbench: checked {time.time() - start:.1f} s", file=sys.stderr)
    attempted = res["attempted"]
    kinds = res["kinds"]
    # an op whose own check failed counts once; a gate mismatch fails every
    # op of its kind, or one op when it names no op kind
    failed = res["failed_ops"] + sum(
        kinds[k]["attempted"] - kinds[k]["failed"] if k in kinds else 1
        for k in {g["kind"] for g in gate})
    failed = min(failed, attempted)
    correct = failed == 0 and not gate

    m = res["metrics"]
    m["fail_frac"] = failed / attempted
    units = {d["name"]: d["unit"] for d in spec["end_to_end"] + spec["per_layer"]}
    for k, v in sorted(m.items()):
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"metric {k} = {shown} {units.get(k, '')}".rstrip())
    for k, v in sorted(kinds.items()):
        print(f"op {k}: {v['attempted']} attempted, {v['failed']} failed, "
              f"p50 {v['p50_ms']:.1f} ms")
    print(f"op_tail_ms is p{m['op_tail_pct']:g} of {int(m['op_samples'])} "
          f"op samples (fail_frac {m['fail_frac']:g})")
    for g in (res["failures"] + gate)[:20]:
        print(f"FAILED {g['kind']}: {g['reason']}")

    if a.trace:
        traces = build_dir / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(work / "trace.json",
                    traces / f"{a.workload}-seed{a.seed}.json")
    prov = dict(res["provenance"])
    prov.update({
        "git_sha": git_sha(), "source_sha256": digest, "seconds": a.seconds,
        "input_tier": f"sf{data.name[2:]}", "warm_tier": golden.name,
        "table_bytes": {p.stem: p.stat().st_size
                        for p in sorted(data.glob("*.parquet"))},
        "python": sys.version.split()[0]})
    print("provenance " + json.dumps(prov, sort_keys=True))

    metrics = {}
    for d in declared:
        v = m.get(d["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not touch
        if v is None:
            fail(f"metric {d['name']} was not measured", 1)
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
