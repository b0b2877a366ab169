#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py      (from the repository root)

They build the engine if needed and start a few short JVM runs (a few minutes).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

WORKLOADS = run.WORKLOADS


def scratch() -> tempfile.TemporaryDirectory:
    """A temporary directory inside the checkout, where runs keep their files."""
    (run.ROOT / ".bench_work").mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.ROOT / ".bench_work")


def bench(*args: str, keep: Path, env=None) -> dict:
    """Run the benchmark with its result files kept under `keep`; return the result line."""
    out = subprocess.run([sys.executable, str(HERE / "run.py"), *args, "--keep", str(keep)],
                         capture_output=True, text=True, cwd=run.ROOT, env=env)
    if out.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def digests(directory: Path) -> dict:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(directory.iterdir()) if p.is_file() and p.suffix in (".json", ".txt")}


class Inputs(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed gives other inputs."""

    def test_generated_inputs_follow_the_seed(self):
        with scratch() as tmp:
            for w in WORKLOADS:
                a, b, c = (Path(tmp) / f"{w}-{k}" for k in "abc")
                for d, seed in ((a, "7"), (b, "7"), (c, "8")):
                    run.main(["--workload", w, "--seed", seed, "--gen-only", "--keep", str(d)])
                da, db, dc = digests(a), digests(b), digests(c)
                self.assertTrue(da, f"{w}: no inputs written")
                self.assertEqual(da, db, f"{w}: same seed, different inputs")
                for name in da:
                    self.assertNotEqual(da[name], dc[name], f"{w}: {name} ignores the seed")


class Accounting(unittest.TestCase):
    """A failed call counts as failed and its time is never reported."""

    def raw(self, ops):
        return {"primary": "visual", "setup": {"session_s": 1.0, "generate_s": [0.1, 0.2, 0.3],
                                               "build_s": 1.0, "warm_s": 1.0},
                "ops": ops}

    def op(self, unit, ms, ok, client=0, end=1.0):
        return {"kind": "visual", "section": "plain", "unit": unit, "client": client,
                "unit_items": 1, "ms": ms, "ok": ok, "end_s": end}

    def test_failed_op_time_and_items_are_excluded(self):
        ops = [self.op("p0", 100.0, True), self.op("p0", 9000.0, False),
               self.op("p1", 200.0, True, end=2.0), self.op("p1", 300.0, True, end=2.0)]
        m = run.summarize(self.raw(ops), ops, False, [])
        self.assertEqual(m["op_ms_p50"]["value"], 200.0)  # median of 100, 200, 300 only
        self.assertEqual(m["items_per_s"]["value"], 1.0)  # p0 failed: 2 items of p1 in 2 s
        self.assertAlmostEqual(m["setup_s"]["value"], 3.2)

    def test_corrupted_expected_answer_is_reported_failed(self):
        with scratch() as tmp:
            res = bench("--workload", "quake_pipeline", "--seed", "3", "--seconds", "120",
                        "--trace", "0", "--ops", "2", "--corrupt", keep=Path(tmp))
            raw = json.loads((Path(tmp) / "raw.json").read_text())
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        bad = [op for op in raw["ops"] if not op["ok"]]
        self.assertEqual([(op["unit"], op["kind"]) for op in bad], [("u0", "dag")])
        ok = [op["ms"] for op in raw["ops"] if op["section"] == "plain" and op["kind"] == "dag" and op["ok"]]
        self.assertEqual(len(ok), 1)
        self.assertEqual(res["metrics"]["op_ms_p50"]["value"], run.p50(ok))
        # the failed day adds no events: only u1's count, over the time to its end
        u1 = [op for op in raw["ops"] if op["unit"] == "u1"]
        want = sum(op["unit_items"] for op in u1) / max(op["end_s"] for op in u1)
        self.assertAlmostEqual(res["metrics"]["items_per_s"]["value"], want)


class Counters(unittest.TestCase):
    """Job, stage and task counts repeat exactly across two traced runs."""

    def counts(self, workload: str, tmp: Path, env) -> Counter:
        bench("--workload", workload, "--seed", "5", "--seconds", "120", "--trace", "1",
              "--ops", "3", keep=tmp, env=env)
        spans = json.loads((tmp / "trace.json").read_text())
        return Counter((s["name"], len(s["jobs"]), sum(j["stages"] for j in s["jobs"]),
                        sum(j["tasks"] for j in s["jobs"])) for s in spans)

    def test_counts_repeat(self):
        for w in WORKLOADS:
            # Adaptive query execution re-plans the curation run (in lake_cdc's
            # traced runs) as its stages finish, in an order that depends on
            # timing: its job count varied between 99 and 100 across runs.
            # Without it the counts repeat.
            env = dict(os.environ, SPARK_GRAFT_AQE="false") if w == "lake_cdc" else None
            with scratch() as a, scratch() as b:
                first, second = self.counts(w, Path(a), env), self.counts(w, Path(b), env)
            self.assertTrue(first, f"{w}: no spans traced")
            self.assertEqual(first, second, f"{w}: Spark work differs between two traced runs")


if __name__ == "__main__":
    unittest.main()
