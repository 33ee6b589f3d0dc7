#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads, every output
checked against a DuckDB oracle.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # all three in turn
    python3 perfbench/run.py --selftest                   # checker self-test

Each workload runs in a fresh JVM (`perfbench.Main`) as one closed-loop
client under `local[N]`, N = min(4, cores). The engine and the harness are
built from source with sbt on first use into `.bench_build/` at the root
of the checkout. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it is the full record. See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = ROOT / ".bench_build"
CDS_ARCHIVE = BUILD / "perfbench" / "classes.jsa"
WORKLOADS = ["olap_star", "curation_batch", "store_maintenance"]
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240

# Input scale per workload (see README "Workloads" for why these sizes).
OLAP_SF = 0.01
CURATION_SF = 0.1
CURATION_DOCS_MULTIPLE = 0.4
STORE_SF = 0.01
# Curation steps in pipeline order, after the v4 rebuild that opens a pass.
CURATION_STEPS = ["q137", "q17", "q134", "q136", "q143"]
# Store maintenance: incremental store steps, then store-backed searches, in
# a fixed order (README: why not seed-permuted).
STORE_STEPS = ["q62", "q157", "q84", "q98", "q85", "q154", "q81"]
KERNEL_ROWS = 20_000


def load_benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ---------------------------------------------------------------- build --

def engine_sources() -> list[Path]:
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build() -> str:
    """Compile and package the engine and the harness, then record a
    class-data-sharing archive from one short run of every workload on tiny
    inputs; returns the runtime classpath. Rebuilds only when a source or
    build file changed."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala")
               if not p.exists()]
    if missing:
        sys.exit(f"perfbench: engine sources not found ({missing[0]}); "
                 "run from a checkout of the repository")
    h = hashlib.sha256()
    for p in engine_sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = BUILD / "perfbench"
    cp_file, stamp_file = out / "classpath.txt", out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        classpath = cp_file.read_text().strip()
        if all(Path(p).exists() for p in classpath.split(os.pathsep)):
            return classpath
    out.mkdir(parents=True, exist_ok=True)
    log = out / "build.log"
    with open(log, "w") as f:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export perfbench/Runtime/fullClasspathAsJars"],
                      cwd=HERE, env=sbt_env(), stdout=f, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if r != 0 or not lines or "[error]" in lines[-1] or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        sys.exit(f"perfbench: build failed (see {log})")
    classpath = lines[-1]
    cp_file.write_text(classpath)
    train(classpath)
    stamp_file.write_text(stamp)
    return classpath


def train(classpath: str) -> None:
    """Run every workload once on tiny inputs in one JVM that writes the
    class-data-sharing archive the timed runs start from. Without an
    archive the runs still work, only their JVMs start slower."""
    root = BUILD / "perfbench" / "train"
    shutil.rmtree(root, ignore_errors=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    specs = []
    for w in WORKLOADS:
        spec, _ = make_spec(w, 0, 0, 0, root / w, cpus(), tiny=True)
        path = root / w / "spec.json"
        path.write_text(json.dumps(spec))
        specs.append(str(path))
    try:
        run_jvm(classpath, specs, root, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                timeout=TRAIN_TIMEOUT_S)
    except SystemExit as e:
        sys.stderr.write(f"perfbench: no class-data-sharing archive ({e})\n")
        CDS_ARCHIVE.unlink(missing_ok=True)
    shutil.rmtree(root, ignore_errors=True)


def run_group(cmd, cwd, env, stdout, timeout, stderr=subprocess.STDOUT) -> int:
    """Run `cmd` in its own process group; on timeout or interrupt the whole
    group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- inputs --

def olap_ops(seed: int) -> list[dict]:
    return oracle.olap_cycle(random.Random(seed))


def make_spec(workload: str, seed: int, seconds: float, trace: int,
              run_dir: Path, cpus: int, tiny: bool = False) -> tuple[dict, dict]:
    """The inputs and op list of one run; `tiny` shrinks the inputs to the
    smallest fixture scale (used to train the class-data-sharing archive)."""
    data = run_dir / "data"
    warmup: list[dict] = []
    if workload == "olap_star":
        info = gen.generate(data, seed, 0.001 if tiny else OLAP_SF, gen.STAR_TABLES)
        ops = olap_ops(seed)
        warmup = oracle.olap_warmup(random.Random(-seed - 1))
    elif workload == "curation_batch":
        info = gen.generate(data, seed, 0.001 if tiny else CURATION_SF, ["documents"],
                            docs_multiple=0.1 if tiny else CURATION_DOCS_MULTIPLE)
        ops = [{"key": "v4_rebuild", "kind": "v4"}] + [
            {"key": q, "kind": "query", "query": q} for q in CURATION_STEPS]
    elif workload == "store_maintenance":
        info = gen.generate(data, seed, 0.001 if tiny else STORE_SF, gen.ALL_TABLES)
        ops = [{"key": q, "kind": "query", "query": q} for q in STORE_STEPS]
    else:
        sys.exit(f"perfbench: unknown workload {workload}")
    spec = {"workload": workload, "data": str(data), "out": str(run_dir / "out"),
            "seconds": seconds, "trace": trace, "cpus": cpus,
            "kernel_rows": KERNEL_ROWS if workload == "curation_batch" else 0,
            "ops": ops, "warmup": warmup}
    return spec, info


# ------------------------------------------------------------------- jvm --

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpus() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def heap() -> str:
    """4 GiB, or a third of physical memory when that is less."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{max(1024, min(4096, kb // 3 // 1024))}m"
    except (OSError, StopIteration):
        return "4g"


def run_jvm(classpath: str, specs: list[str], run_dir: Path,
            extra: list[str], timeout: float = JVM_TIMEOUT_S) -> None:
    """Run perfbench.Main on `specs` in a fresh JVM with its own temporary
    directory; exits unless every spec wrote its record."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", *extra,
           *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "--add-modules=jdk.incubator.vector",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", *specs]
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        rc = run_group(cmd, cwd=run_dir, env=dict(os.environ), stdout=f,
                       timeout=timeout)
    records = [Path(json.loads(Path(s).read_text())["out"]) / "record.json" for s in specs]
    if rc != 0 or not all(r.is_file() for r in records):
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.exit(f"perfbench: benchmark JVM failed with code {rc}")


# --------------------------------------------------------------- metrics --

def tail_percentile(lat: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it,
    by nearest rank; the minimum when there are ten samples or fewer."""
    s = sorted(lat)
    n = len(s)
    q = max(0, math.floor(100 * (n - 10) / n)) if n > 10 else 0
    idx = max(0, math.ceil(q / 100 * n) - 1)
    return s[idx], q


def window_metrics(win: dict, record: dict, info: dict, verdicts: dict) -> dict:
    ops = win["ops"]
    ok = [o for o in ops if o["error"] is None]
    failed = [o for o in ops if not verdicts.get((o["key"], o["fingerprint"]), False)
              or o["error"] is not None]
    lat = [o["construct_ms"] + o["action_ms"] for o in ok]
    busy = win["busy_s"]
    m = {
        "setup_s": (record["setup_s"], "s"),
        "throughput_ops_s": (len(ok) / busy if busy > 0 else 0.0, "ops/s"),
        "latency_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
    }
    tail, q = tail_percentile(lat) if lat else (0.0, 0)
    m["latency_tail_ms"] = (tail, "ms")
    m["failed_ratio"] = (len(failed) / len(ops) if ops else 1.0, "1")
    m["cached_mb"] = (record["cached_mb"], "MB")
    if record["workload"] == "curation_batch":
        docs = info["corpus"]["docs"]
        m["docs_per_s"] = (docs * win["cycles"] / busy if busy > 0 else 0.0, "docs/s")
    extra = {"latency_tail_percentile": q, "latency_samples": len(lat),
             "ops": len(ops), "failed": len(failed), "cycles": win["cycles"],
             "timed_s": busy, "process_cpu_s": win["process_cpu_s"]}
    return {"metrics": m, "extra": extra, "failed_ops": failed}


def per_key(win: dict) -> dict:
    by: dict[str, list[float]] = {}
    for o in win["ops"]:
        by.setdefault(o["key"], []).append(o["construct_ms"] + o["action_ms"])
    return {k: round(statistics.median(v), 1) for k, v in sorted(by.items())}


# ------------------------------------------------------------------- run --

def run_workload(workload: str, seed: int, seconds: float, trace: int,
                 perturb: bool) -> dict:
    classpath = build()
    n_cpus = cpus()
    run_dir = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        t0 = time.time()
        spec, info = make_spec(workload, seed, seconds, trace, run_dir, n_cpus)
        gen_s = time.time() - t0
        spec_path = run_dir / "spec.json"
        spec_path.write_text(json.dumps(spec))
        cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if CDS_ARCHIVE.is_file() else []
        run_jvm(classpath, [str(spec_path)], run_dir, cds)
        out = run_dir / "out"
        record = json.loads((out / "record.json").read_text())
        t1 = time.time()
        verdicts, checks = oracle.check(out, Path(spec["data"]), spec["ops"],
                                        record, perturb=perturb)
        check_s = time.time() - t1
        timed = window_metrics(record["timed"], record, info, verdicts)
        result = {"workload": workload, "seed": seed, "trace": trace,
                  "cpus": n_cpus, "inputs": info, "gen_s": round(gen_s, 3),
                  "check_s": round(check_s, 3),
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (v, u) in timed["metrics"].items()},
                  "timed": timed["extra"], "cycle": [o["key"] for o in spec["ops"]],
                  "latency_ms_by_key": per_key(record["timed"]),
                  "setup": record["setup"], "cached_rdds": record["cached_rdds"],
                  "machine": record["machine"],
                  "checks": checks,
                  "failed_ops": [{"key": o["key"], "error": o["error"]}
                                 for o in timed["failed_ops"]][:10]}
        attempted, failed = timed["extra"]["ops"], timed["extra"]["failed"]
        if trace:
            tr = window_metrics(record["traced"], record, info, verdicts)
            attempted += tr["extra"]["ops"]
            failed += tr["extra"]["failed"]
            result["per_layer"] = record["per_layer"]
            result["traced"] = tr["extra"]
            (BUILD / "records").mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "spans.jsonl",
                        BUILD / "records" / f"spans-{workload}-s{seed}.jsonl")
        result["attempted"], result["failed"] = attempted, failed
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def final_line(results: list[dict], trace: int, bench: dict, prefix: bool) -> str:
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = {}
    for r in results:
        src = r["per_layer"] if trace else r["metrics"]
        for m in wanted:
            name = f"{r['workload']}.{m['name']}" if prefix else m["name"]
            v = src[m["name"]]
            metrics[name] = {"value": v["value"], "unit": v["unit"]}
    return json.dumps({
        "correct": all(r["failed"] == 0 for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics}, separators=(",", ":"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all",
                    help="olap_star, curation_batch, store_maintenance or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="alter one result before checking (it must count as failed)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_group kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.selftest:
        oracle.selftest(olap_ops)
        return
    bench = load_benchmark()
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        sys.exit(f"perfbench: unknown workload {a.workload}")
    results = []
    for n in names:
        r = run_workload(n, a.seed, seconds, a.trace, a.perturb)
        print(json.dumps(r, separators=(",", ":")), flush=True)
        results.append(r)
    print(final_line(results, a.trace, bench, prefix=len(names) > 1), flush=True)


if __name__ == "__main__":
    main()
