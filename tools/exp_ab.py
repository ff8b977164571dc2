"""Interleaved config A/B at one level — drift-robust plan-tuning loop.

Runs the flagship pipeline at a single parallelism level, alternating two
env-var configurations run by run (A, B, A, B, ...) so host drift hits both
arms equally. Reports per-run walls and the median per-arm.

Usage:
    python tools/exp_ab.py <n_convs> <cpus> <rounds> "<A: k=v,k=v|->" "<B: ...>"
e.g.
    python tools/exp_ab.py 256000 32 2 "-" "SPARK_GRAFT_OFFHEAP_GB=16"
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_bench import REPO, pregenerate  # noqa: E402


def run(cpus: int, parquet: str, extra: dict[str, str]) -> float:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_PIPELINE_ONLY="1",
        SPARK_GRAFT_TRANSCRIPTS_PARQUET=parquet,
        SPARK_GRAFT_SF_DIR=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        SPARK_DRIVER_JAVA_OPTIONS=f"-XX:+UseG1GC -XX:ActiveProcessorCount={cpus}",
        **extra,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, check=True, cwd=REPO,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    p = json.loads(line)["pipeline"]
    return p["seconds"], p["triples_hashsum"]


def parse(spec: str) -> dict[str, str]:
    if spec.strip() in ("-", ""):
        return {}
    return dict(kv.split("=", 1) for kv in spec.split(","))


def main() -> None:
    n_convs = int(sys.argv[1])
    cpus = int(sys.argv[2])
    rounds = int(sys.argv[3])
    arm_a, arm_b = parse(sys.argv[4]), parse(sys.argv[5])
    pq = pregenerate(n_convs)
    walls = {"A": [], "B": []}
    hashes = set()
    for i in range(rounds):
        for arm, extra in (("A", arm_a), ("B", arm_b)):
            w, h = run(cpus, pq, extra)
            walls[arm].append(w)
            hashes.add(h)
            print(json.dumps({"round": i, "arm": arm, "wall": w}), file=sys.stderr)
    assert len(hashes) == 1, f"arms disagree on output: {hashes}"
    print(
        json.dumps(
            {
                "n_convs": n_convs,
                "cpus": cpus,
                "A": sys.argv[4],
                "B": sys.argv[5],
                "walls_A": walls["A"],
                "walls_B": walls["B"],
                "median_A": round(statistics.median(walls["A"]), 3),
                "median_B": round(statistics.median(walls["B"]), 3),
                "B_over_A": round(
                    statistics.median(walls["B"]) / statistics.median(walls["A"]), 3
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
