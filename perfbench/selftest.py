#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting and its refusal to run
without the engine's sources.

    python3 perfbench/selftest.py

1. Runs `query_mix` with three injected failures: a query that throws, a
   query whose output is truncated (digest mismatch) and a query that
   outlives the per-op timeout. Each must count in `failed`, appear in the
   failure list, and stay out of every latency sample.
2. Runs the benchmark in a directory holding only BENCHMARK.json and the
   benchmark's own files; it must exit non-zero, print no result, and do
   so quickly.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import metrics  # noqa: E402
INJECT = {"throw": "f_hash", "mismatch": "j8_semi_join", "timeout": "m_resize_stub"}


def injected_failures():
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix",
           "--seed", "7", "--seconds", "1", "--trace", "0"]
    for kind, q in INJECT.items():
        cmd += ["--inject", f"{kind}:{q}"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    art = next(l.split(": ", 1)[1] for l in lines if l.startswith("# artifact: "))
    doc = json.load(open(os.path.join(ROOT, art)))
    checked, r = doc["checked_ops"], doc["result"]
    failed = {o["query"]: o["why"] for o in checked if not o["ok"]}
    assert set(failed) == set(INJECT.values()), failed
    assert "injected failure" in failed["f_hash"], failed["f_hash"]
    assert failed["j8_semi_join"].startswith("digest mismatch"), failed["j8_semi_join"]
    assert failed["m_resize_stub"].startswith("timeout"), failed["m_resize_stub"]
    assert res["failed"] == 3 and res["correct"] is False, res
    assert res["attempted"] == len(checked), res
    # no latency metric saw a failed op: the per-query samples are the
    # successful ones, and the pass holding failures has no pass time
    assert r["e2e_samples"]["step_p50_s"] == res["attempted"] - 3, r["e2e_samples"]
    assert r["e2e_samples"]["pass_s"] == 0 and res["metrics"]["pass_s"]["value"] is None
    ok_secs = [o["secs"] for o in checked if o["ok"]]
    assert abs(r["e2e"]["step_p50_s"] - metrics.pct(ok_secs, 50)) < 1e-9
    print(f"ok: injected failures counted ({res['failed']}/{res['attempted']}) "
          f"and kept out of the latency samples")


def refuses_without_sources():
    scratch = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        t0 = time.time()
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                              "commissions", "--seed", "1", "--seconds", "1",
                              "--trace", "0"], cwd=d, capture_output=True,
                             text=True, timeout=180)
        assert out.returncode != 0, out
        assert not out.stdout.strip(), out.stdout
        print(f"ok: without the engine's sources it exits {out.returncode} "
              f"in {time.time() - t0:.1f} s: {out.stderr.strip()}")


if __name__ == "__main__":
    refuses_without_sources()
    injected_failures()
