#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program
and the harness with sbt (offline); later runs reuse the build while the
sources are unchanged. Human-readable lines come first; the last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`. The full result, with provenance,
is written under `.bench_build/results/`.
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

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"
WORKLOADS = ("query_suite", "ann_ingest")
WHY = {
    "query_suite": "driver overhead: source resolution, Catalyst, codegen, job count and "
                   "driver gaps dominate declared queries whose kernels do little work",
    "ann_ingest": "the vector read and write paths: exact, HNSW and IVF-ADC search, and "
                  "CDC ingest through the streaming sink into the IVF-ADC index that search "
                  "reads, so cheaper writes that make reads dearer show up",
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [ROOT / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", HARNESS):
        if d.is_dir():
            files += [p for p in d.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(d).parts]
    return sorted(files)


def source_stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run_stopping_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """The classpath of the built harness; builds when the sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    stamp = source_stamp(source_files())
    cp_file = BUILD / f"classpath-{stamp}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(BUILD / "tmp"))
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_stopping_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = [x for x in lines if x.startswith("/") and "perfbench" in x]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(x for x in lines[-60:] if not x.startswith("/")) + "\n")
        fail(f"build failed (see {log})", 3)
    cp_file.write_text(cp[-1])
    return cp[-1], stamp


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work):
    """Runs the harness; returns its raw record."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out)])
    log = work / "jvm.log"
    with open(log, "w") as f:
        rc = run_stopping_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                env=dict(os.environ, TMPDIR=str(work / "tmp")))
    if rc != 0 or not out.is_file():
        tail = [x for x in log.read_text(errors="replace").splitlines()
                if "perfbench" in x or "Exception" in x or "Error" in x][-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("the run timed out" if rc is None else f"the run failed (exit {rc})", 4)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    declared = json.loads((ROOT / "BENCHMARK.json").read_text()) \
        if (ROOT / "BENCHMARK.json").is_file() else fail("BENCHMARK.json is missing", 2)
    cp, stamp = build()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    t0 = time.time()
    try:
        raw = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = stats.end_to_end(raw)
    units = {m["name"]: m["unit"] for m in declared["per_layer"]}
    layers = stats.per_layer(raw, list(units)) if args.trace else {}
    res_dir = BUILD / "results"
    budget = stats.layer_budget(raw) if args.trace else {}
    ops = raw["ops"]
    failed = [o for o in ops if not o["ok"]]
    result = {
        "provenance": {
            "workload": args.workload, "why": WHY[args.workload], "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "commit": commit(),
            "source_stamp": stamp, "nproc": os.cpu_count(), "spark_conf": raw["spark_conf"],
            "inputs": raw["inputs"], "pass_ops": raw["pass"],
            "wall_s": round(time.time() - t0, 3),
        },
        "attempted": len(ops), "failed": len(failed),
        "failures": [{"op": o["i"], "kind": o["kind"], "error": o["error"]} for o in failed[:20]],
        "end_to_end": {k: {"value": v, "unit": u, "note": n} for k, (v, u, n) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in layers.items()},
        "layer_budget_ms_per_op": budget,
        "setup_ms": stats.setup_breakdown(raw) if args.trace else {},
        "ops": [{k: o[k] for k in ("i", "kind", "group", "query", "t0", "t1", "ok", "traced")
                 if k in o} for o in ops],
    }
    res_dir.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0 * 1000)}.json"
    (res_dir / name).write_text(json.dumps(result, indent=1))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={os.cpu_count()} commit={result['provenance']['commit']} source={stamp}")
    print(f"# why: {WHY[args.workload]}")
    print(f"# inputs: {json.dumps(raw['inputs'])[:2000]}")
    for k, (v, u, n) in e2e.items():
        print(f"{args.workload} {k} = {v:.6g} {u} ({n})")
    for k, v in layers.items():
        print(f"{args.workload} {k} = " +
              (f"{v:.6g} {units[k]}" if v is not None else "n/a (the workload does not run it)"))
    for k, v in budget.items():
        print(f"{args.workload} layer {k} self = {v:.3f} ms/op")
    for f in result["failures"]:
        print(f"FAILED op {f['op']} ({f['kind']}): {f['error']}")
    print(f"# result file: {res_dir / name}")

    if args.trace:
        # the last line carries numbers only: a layer the workload does not
        # run reads 0 there
        metrics = {k: {"value": 0.0 if v is None else v, "unit": units[k]}
                   for k, v in layers.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
