"""Compare two benchmark result files (perfbench/.work/results/*.json).

    python3 perfbench/compare.py BASE.json NEW.json

Results are compared only when their environment fingerprints match:
same workload, scale, operations, nproc, run length,
trace mode and Spark/Java/Python versions. The code revision and the
seed may differ; both are printed. Exits 2 on a fingerprint mismatch.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ENV_KEYS = ("workload", "scale", "ops", "nproc", "seconds", "trace", "spark", "java", "python")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    base, new = (json.loads(Path(p).read_text()) for p in argv)
    fb, fn = base["fingerprint"], new["fingerprint"]
    diff = [k for k in ENV_KEYS if fb.get(k) != fn.get(k)]
    if diff:
        for k in diff:
            print(f"fingerprint mismatch {k}: {fb.get(k)!r} vs {fn.get(k)!r}")
        return 2
    for k in ("git_sha", "tree_sha", "seed"):
        print(f"{k}: {fb.get(k)} -> {fn.get(k)}")
    for name, m in base["metrics"].items():
        if name in new["metrics"]:
            a, b = m["value"], new["metrics"][name]["value"]
            ratio = f"{b / a:.3f}x" if a else "n/a"
            print(f"{name:40s} {a:14.6g} {b:14.6g} {m['unit']:6s} {ratio}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
