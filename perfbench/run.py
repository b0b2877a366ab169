#!/usr/bin/env python3
"""Benchmark of the earthquake ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source when needed (``perfbench/build.py``), runs one
workload in a JVM sized from the host, checks every output, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the host. Metric
names, units and directions are listed in BENCHMARK.json; perfbench/README.md
explains each workload and metric.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["quake_pipeline", "lake_cdc"]
RUN_LIMIT_S = 170  # the JVM is killed past this, leaving time to clean up

def meminfo_kb(field: str) -> int:
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_mem() -> str:
    """Half the host memory in GiB, clamped to 2..8 (the tier-1 test sizing)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = meminfo_kb("MemTotal") // 2097152
    return f"{min(8, max(2, g))}g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_version() -> dict:
    head = ROOT / ".git" / "HEAD"
    commit = None
    if head.is_file():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    stamp = build.OUT / "stamp"
    return {"git_commit": commit, "source_sha256": stamp.read_text() if stamp.is_file() else None}


def run_jvm(classpath: str, args, work: Path) -> dict:
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xmx{driver_mem()}", "-XX:ReservedCodeCacheSize=512m",
           f"-XX:SharedArchiveFile={build.CDS}", "-Xlog:cds=off", f"-Djava.io.tmpdir={work / 'tmp'}",
           *build.JVM_FLAGS, "-cp", classpath, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.ops:
        cmd += ["--ops", str(args.ops)]
    if args.corrupt:
        cmd += ["--corrupt"]
    if args.gen_only:
        cmd += ["--gen-only"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    log = work / "jvm.log"
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=work,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on a signal: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: JVM {'timed out' if code is None else f'exited with {code}'}")
    return {} if args.gen_only else json.loads((work / "raw.json").read_text())


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def items_per_s(ops: list) -> float:
    """Sum over clients of the items of their fully successful units, each
    divided by the time from the section start to that client's last op."""
    units, span = {}, {}
    for op in ops:
        u = units.setdefault(op["unit"], [op["client"], True, 0])
        u[1] = u[1] and op["ok"]
        u[2] += op["unit_items"]
        span[op["client"]] = max(span.get(op["client"], 0.0), op["end_s"])
    items = {}
    for client, ok, n in units.values():
        items[client] = items.get(client, 0) + (n if ok else 0)
    return sum(n / span[c] for c, n in items.items() if span[c] > 0)


def summarize(raw: dict, ops: list, trace: bool, per_layer: list) -> dict:
    primary = raw["primary"]
    if not trace:
        plain = [op for op in ops if op["section"] == "plain"]
        s = raw["setup"]
        metrics = {
            "setup_s": (s["session_s"] + statistics.median(s["generate_s"]) + s["build_s"] + s["warm_s"], "s"),
            "op_ms_p50": (p50([op["ms"] for op in plain if op["ok"] and op["kind"] == primary]), "ms"),
            "items_per_s": (items_per_s(plain), "1/s"),
        }
    else:
        def primary_p50(sections):
            return p50([op["ms"] for op in ops if op["ok"] and op["kind"] == primary
                        and op["section"] in sections])
        plain, traced = primary_p50({"plain", "plain2"}), primary_p50({"traced"})
        layers = dict(raw["layers"], **{"trace.overhead_pct": 100 * (traced - plain) / plain if plain else 0.0})
        unknown = sorted(set(layers) - {m["name"] for m in per_layer})
        if unknown:
            raise SystemExit(f"perfbench: per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in per_layer}
    return {name: {"value": v, "unit": unit} for name, (v, unit) in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ops", type=int, default=0, help="stop after this many units (tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the expected answer of the first timed unit (tests)")
    ap.add_argument("--gen-only", action="store_true", help="only write the generated inputs (tests)")
    ap.add_argument("--keep", help="write the run's files under this directory and keep them (tests)")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(f"perfbench: stopped by signal {signum}"))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath = build.build()
    if args.keep:
        work = Path(args.keep).resolve()
        if work.exists() and any(work.iterdir()):
            raise SystemExit(f"perfbench: --keep {work} must be a new or empty directory")
    else:
        work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True, exist_ok=True)
    try:
        raw = run_jvm(classpath, args, work)
        if args.gen_only:
            return 0
        ops = checks.verify(raw)
        metrics = summarize(raw, ops, args.trace == 1, spec["per_layer"])
        failed = sum(1 for op in ops if not op["ok"])
        host = dict(raw["host"], page_cache_mb=(meminfo_kb("Cached") + meminfo_kb("Buffers")) // 1024,
                    heap_flag=driver_mem(), **source_version())
        errors = sorted({op["err"] for op in ops if not op["ok"]})[:5]
        print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host,
                          "samples": sum(1 for op in ops if op["kind"] == raw["primary"]),
                          "wall_s": raw["wall_s"], "setup": raw["setup"], "errors": errors}))
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
