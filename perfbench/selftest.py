"""Self-tests of the benchmark.

    python3 perfbench/selftest.py          (or: python3 -m pytest perfbench/selftest.py)

* the corpus generator is byte-deterministic per seed;
* a perturbed output column fails the pass checks (``failed`` > 0);
* the one command runs end to end at tiny scale on every workload;
* in a directory holding only the benchmark it exits non-zero without a
  result line.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TMP = ROOT / ".bench_work" / "selftest"
sys.path[:0] = [str(HERE), str(ROOT)]


def _fresh(name: str) -> Path:
    d = TMP / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_generator_is_deterministic():
    import corpus

    a, b, c = _fresh("gen_a"), _fresh("gen_b"), _fresh("gen_c")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        corpus.write_corpus(str(d), 300, seed, planted=True)
    files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    assert files, "generator wrote nothing"
    same = [filecmp.cmp(a / f, b / f, shallow=False) for f in files]
    assert all(same), "same seed gave different bytes"
    assert not filecmp.cmp(a / "truth.json", c / "truth.json", shallow=False)


def test_perturbed_output_fails():
    import run
    from pyspark.sql import functions as F

    def perturb(out, i):
        # a relative change of 1e-12 to lang_conf
        return out.withColumn("lang_conf", F.col("lang_conf") * (1 + 1e-12))

    result = run.run("filter_distinct", 3, 1, False, perturb, n_docs=300)
    assert result["failed"] == result["attempted"] and not result["correct"], result


def test_smoke_every_workload():
    import run

    for workload in run.ENGINES:
        for trace in ("0", "1"):
            r = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", trace, "--docs", "300")
            assert r.returncode == 0, r.stderr[-2000:]
            res = json.loads(r.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, res
            bench = json.loads((ROOT / "BENCHMARK.json").read_text())
            names = [m["name"] for m in bench["per_layer" if trace == "1" else "end_to_end"]]
            assert sorted(res["metrics"]) == sorted(names), res["metrics"].keys()


def test_bare_directory_fails():
    bare = _fresh("bare")
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "filter_distinct",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180, env=env)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
